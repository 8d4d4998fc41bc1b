"""Testdata table access.

The driver's synthetic star schema (TESTDATA.md): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
file each under a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Open the events parquet, enabling the legacy nanos conf only when
    the file actually requires it (TIMESTAMP(NANOS) physical type fails
    schema inference without it). Sessions built by ``get_spark`` already
    carry the conf; this fallback keeps the module correct under a
    caller-supplied vanilla session without unconditionally mutating
    session state on every read."""
    try:
        return spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-local TimestampType with the same
    rendered (naive) wall clock as the DuckDB oracle, for both physical
    encodings the testdata has shipped in:

    - TIMESTAMP(NANOS) → read as LongType under the legacy conf; integer-
      truncate to micros (bit-identical to DuckDB), then
      to_utc_timestamp(..., current_timezone()) pins the rendered naive
      value for any session timezone.
    - TIMESTAMP(MICROS) → read as TIMESTAMP_NTZ; the NTZ→TZ cast
      interprets the naive value at the session zone, so render-back
      yields the identical wall clock.

    Any other dtype (e.g. an isAdjustedToUTC=true TimestampType, whose
    wall clock would silently depend on session timezone) raises instead
    of passing through unnormalized.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts",
            F.expr("to_utc_timestamp(timestamp_micros(ts DIV 1000), current_timezone())"),
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts: unexpected physical type {ts_type}; expected LongType "
        "(nanos under legacy conf) or TimestampNTZType (micros). A third "
        "testdata encoding needs an explicit normalization branch here — "
        "do not fall through silently (wall clock would become session-tz-"
        "dependent)."
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain parquet scan → Catalyst gets full
    pushdown/pruning; at cluster scale the same call reads a partitioned
    table directory. events.ts is normalized via ``normalize_events_ts``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_events_ts(read_events_raw(spark, path))
    return spark.read.parquet(path)
