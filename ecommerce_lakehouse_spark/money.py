"""Exact-decimal money arithmetic (SURVEY §7.5 type-fidelity hard part).

Monetary columns are 2dp decimals stored as double; summing them in float
accumulates engine-order-dependent ulp error, and round() at half-cent
boundaries then flips differently in Spark vs any oracle. Policy: cast to
DECIMAL before arithmetic/aggregation (exact, order-independent), cast the
exact result to double at the very end. Both the Spark plans and the DuckDB
oracle SQL follow the identical recipe, so results are bit-identical.

At 100 TB this is also the *correct* engineering choice: decimal sums are
associative, so partial aggregation / AQE re-planning cannot change results.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

D2 = "decimal(18,2)"
D4 = "decimal(9,4)"


def dec2(c: Column | str) -> Column:
    return F.col(c).cast(D2) if isinstance(c, str) else c.cast(D2)


def dec4(c: Column | str) -> Column:
    return F.col(c).cast(D4) if isinstance(c, str) else c.cast(D4)


def money_sum(c: Column | str, scale: int = 2) -> Column:
    """CAST(round(sum(CAST(c AS DECIMAL(18,2))), scale) AS DOUBLE) — the
    round happens in the decimal domain where half-cent ties are exact and
    both engines round half-away-from-zero identically; only the final
    (unambiguous) value is cast to double."""
    return F.round(F.sum(dec2(c)), scale).cast("double")


def money_avg(c: Column | str, scale: int = 4) -> Column:
    """Exact-decimal sum cast to double, divided by count — NO rounding:
    identical doubles divided by identical ints are bit-identical in every
    IEEE engine, whereas rounding a quotient reintroduces exact ties
    (e.g. sum/8 terminating at the round scale). ``scale`` kept for API
    stability; ignored."""
    return F.sum(dec2(c)).cast("double") / F.count(c)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal."""
    return dec2("l_extendedprice") * dec4(F.lit(1) - F.col("l_discount"))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax) in exact decimal."""
    return disc_price() * dec4(F.lit(1) + F.col("l_tax"))


def dsum(expr: Column, scale: int = 2) -> Column:
    """Sum an exact-decimal expression, round in decimal, emit double."""
    return F.round(F.sum(expr), scale).cast("double")


# SQL-side mirrors (DuckDB oracle fragments)
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(9,4))"


def sql_dsum(expr: str, s: int = 2) -> str:
    return f"CAST(round(sum({expr}), {s}) AS DOUBLE)"
