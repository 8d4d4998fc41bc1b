"""Time-series folds shared by batch queries and their streaming twins.

Each function maps an exact state frame (daily cents, monthly revenue
from exact cents, per-source token counts) to a summary. The batch query
builds that state from a full scan; the streaming job
(streaming/jobs.py) folds it additively per micro-batch into a LakeTable
and calls the same function on the folded state. Equal state in, so
bit-identical summaries out: the stream is checked against the batch
query, and the batch query against its DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

PH_LAMBDA_SIGMA = 3.0  # Page-Hinkley alarm threshold, in daily-dollar stddevs
# Holt-Winters smoothing weights (SQL literals) and forecast horizon (months)
HW_ALPHA = "0.2"
HW_BETA = "0.1"
HW_GAMMA = "0.3"
HW_H = 6


def spike_flags_from_daily(daily: DataFrame) -> DataFrame:
    """Rolling-MAD flags from a (d, cents) daily frame — shared by the
    batch query (queries/stats2.py::daily_revenue_spike_flags) and the
    streaming twin (streaming/jobs.py::stream_spike_monitor), which folds
    daily cents additively per micro-batch and recomputes flags from the
    state."""
    win = Window.orderBy("d").rowsBetween(-14, -1)
    w = daily.select(
        "d", "cents", F.sort_array(F.collect_list("cents").over(win)).alias("base")
    ).filter(F.size("base") >= 7)
    med2 = F.expr(
        "element_at(base, CAST((size(base) + 1) DIV 2 AS INT))"
        " + element_at(base, CAST(size(base) DIV 2 + 1 AS INT))"
    )
    m = w.select(
        "d",
        "cents",
        F.size("base").cast("long").alias("wn"),
        med2.alias("med2"),
        F.expr(
            "array_sort(transform(base, x -> abs(2 * x -"
            " (element_at(base, CAST((size(base) + 1) DIV 2 AS INT))"
            "  + element_at(base, CAST(size(base) DIV 2 + 1 AS INT))))))"
        ).alias("devs"),
    )
    mad2 = F.expr(
        "element_at(devs, CAST((wn + 1) DIV 2 AS INT))"
        " + element_at(devs, CAST(wn DIV 2 + 1 AS INT))"
    )
    return m.select(
        "d",
        F.col("wn").alias("window_n"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (F.col("med2").cast("double") / F.lit(200.0)).alias("baseline_median"),
        (mad2.cast("double") / F.lit(400.0)).alias("baseline_mad"),
        (
            4 * F.abs(2 * F.col("cents") - F.col("med2")) > 3 * mad2
        ).alias("is_spike"),
    )


def ph_summary_from_daily(d: DataFrame) -> DataFrame:
    """The Page-Hinkley summary over any exact (day, cents) daily frame:
    the batch query (queries/wave7.py::page_hinkley_drift) and its
    streaming twin (streaming/jobs.py::stream_page_hinkley), which
    recomputes the identical summary from its folded daily state."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    srt = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    t = srt.select(
        "day",
        F.expr(
            "CAST(round(CAST(i * cents - cum_cents AS DOUBLE) / i, 0)"
            " AS BIGINT)"
        ).alias("dev_cents"),
    )
    c = t.select(
        "day", F.sum("dev_cents").over(w).cast("long").alias("cum")
    )
    e = c.select(
        "day", "cum", (F.col("cum") - F.min("cum").over(w)).alias("excess")
    )
    g = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sqrt(
            (
                F.count(F.lit(1)).cast("decimal(38,0)")
                * F.sum(
                    F.col("cents").cast("decimal(19,0)")
                    * F.col("cents").cast("decimal(19,0)")
                )
                - F.sum(F.col("cents").cast("decimal(19,0)"))
                * F.sum(F.col("cents").cast("decimal(19,0)"))
            ).cast("double")
            / (
                F.count(F.lit(1)).cast("long")
                * (F.count(F.lit(1)).cast("long") - 1)
            )
        ).alias("sigma_cents"),
    )
    lam = F.col("sigma_cents") * F.lit(PH_LAMBDA_SIGMA)
    return (
        e.crossJoin(F.broadcast(g))
        .groupBy("n", "sigma_cents")
        .agg(
            F.sum(
                F.when(F.col("excess").cast("double") > lam, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alarm_days"),
            F.min(
                F.when(F.col("excess").cast("double") > lam, F.col("day"))
            ).alias("first_alarm_day"),
            F.round(F.max("excess").cast("double") / 100.0, 9).alias(
                "max_excess"
            ),
        )
        .select(
            F.col("n").alias("n_days"),
            F.round(lam / 100.0, 9).alias("lambda_threshold"),
            "n_alarm_days",
            "first_alarm_day",
            "max_excess",
        )
    )


def mixture_shift_summary(per_source: DataFrame) -> DataFrame:
    """Shares + shift from an exact-integer per-source frame (source,
    n_docs, n_canonical, tok_raw, tok_dedup): the batch query
    (queries/wave7.py::dedup_mixture_shift) and its streaming twin
    (streaming/jobs.py::stream_mixture_shift), which derives the
    identical summary from its folded state: equal integers in,
    bit-identical doubles out (each share is a single division of exact
    BIGINTs)."""
    tot = per_source.agg(
        F.sum("tok_raw").cast("long").alias("raw_total"),
        F.sum("tok_dedup").cast("long").alias("dedup_total"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_canonical",
            "tok_raw",
            "tok_dedup",
            (F.col("tok_raw").cast("double") / F.col("raw_total")).alias(
                "share_raw"
            ),
            (F.col("tok_dedup").cast("double") / F.col("dedup_total")).alias(
                "share_dedup"
            ),
            (
                F.col("tok_dedup").cast("double") / F.col("dedup_total")
                - F.col("tok_raw").cast("double") / F.col("raw_total")
            ).alias("share_shift"),
        )
        .orderBy("source")
    )


def hw_forecast_from_monthly(m: DataFrame) -> DataFrame:
    """The Holt-Winters fit + forecast over any exact (month, revenue)
    monthly frame: the batch query (queries/wave7.py::
    holt_winters_seasonal) and its streaming twin (streaming/jobs.py::
    stream_holt_winters), which recomputes the identical forecast from
    its folded monthly-cents state. Bit-equality rests on the monthly
    revenue doubles matching: the stream folds exact cents (BIGINT) and
    divides by 100 once, landing on the same nearest-double as the
    batch decimal sum."""
    arr = m.agg(
        F.expr("array_sort(collect_list(struct(month, revenue)))").alias("a")
    )
    st0 = arr.selectExpr(
        "a",
        "size(a) AS n",
        """aggregate(transform(slice(a, 1, 12), x -> x.revenue),
  CAST(0 AS DOUBLE), (s, x) -> s + x) / 12 AS m1""",
        """aggregate(transform(slice(a, 13, 12), x -> x.revenue),
  CAST(0 AS DOUBLE), (s, x) -> s + x) / 12 AS m2""",
    ).selectExpr(
        "a",
        "n",
        """concat(array(m1, (m2 - m1) / 12),
  transform(sequence(1, 12),
    i -> element_at(a, i).revenue - m1)) AS s0""",
    )
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    folded = st0.selectExpr(
        "a",
        "n",
        f"""aggregate(
  transform(slice(a, 25, size(a) - 24),
    x -> array(x.revenue, CAST(month(x.month) AS DOUBLE))),
  s0,
  (st, e) -> transform(sequence(1, 14), i -> CASE
    WHEN i = 1 THEN
      {a} * (element_at(e, 1)
             - element_at(st, CAST(element_at(e, 2) AS INT) + 2))
      + (1 - {a}) * (element_at(st, 1) + element_at(st, 2))
    WHEN i = 2 THEN
      {b} * (({a} * (element_at(e, 1)
               - element_at(st, CAST(element_at(e, 2) AS INT) + 2))
          + (1 - {a}) * (element_at(st, 1) + element_at(st, 2)))
          - element_at(st, 1))
      + (1 - {b}) * element_at(st, 2)
    WHEN i = CAST(element_at(e, 2) AS INT) + 2 THEN
      {g} * (element_at(e, 1)
        - ({a} * (element_at(e, 1)
             - element_at(st, CAST(element_at(e, 2) AS INT) + 2))
           + (1 - {a}) * (element_at(st, 1) + element_at(st, 2))))
      + (1 - {g}) * element_at(st, CAST(element_at(e, 2) AS INT) + 2)
    ELSE element_at(st, i) END)) AS st""",
    )
    folded = folded.localCheckpoint(eager=False)  # h branches reuse it
    out = None
    for h in range(1, HW_H + 1):
        row = folded.selectExpr(
            f"{h} AS h",
            f"add_months(element_at(a, CAST(n AS INT)).month, {h})"
            " AS forecast_month",
            f"""element_at(st, 1) + {h} * element_at(st, 2)
  + element_at(st,
      CAST(month(add_months(element_at(a, CAST(n AS INT)).month, {h}))
           AS INT) + 2) AS forecast""",
            "element_at(st, 1) AS level",
            "element_at(st, 2) AS trend",
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        F.col("h").cast("int").alias("h"),
        "forecast_month",
        "forecast",
        "level",
        "trend",
    )
