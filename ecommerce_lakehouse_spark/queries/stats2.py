"""Wave-9 statistics: distribution comparison and trend estimation.

Completes the statistical-testing family (chi-square independence, A/B
lift, bootstrap CI) with the four classical nonparametric/trend tools a
data-quality or experimentation pipeline reaches for next:

- **Kolmogorov-Smirnov two-sample test** — "did the value distribution
  shift between segments?" without any distributional assumption;
- **Spearman rank correlation** — monotone association robust to
  outliers and nonlinearity (the rank twin of `exact_moment_corr`);
- **Kendall tau-b** — ordinal association on a contingency grid, with
  the tie corrections tau-b is named for;
- **OLS trend + Holt linear smoothing** — the trend members of the
  time-series family next to `exp_smoothing_revenue` (level only),
  `monthly_revenue_growth` (derivative) and `revenue_autocorrelation`
  (memory structure).

Determinism contract (the repo-wide discipline, see llm8.py): every
statistic accumulates in exact integer/decimal sums (associative — AQE
and partial aggregation cannot reorder them) or in a single
position-ordered array fold; floats appear only in the final closed-form
expression, written in the SAME operation order as the DuckDB oracle, so
IEEE correct rounding makes the doubles bit-identical. Divisions of
exact inputs are deliberately left unrounded (see money.py::money_avg).

Reference parity: the reference exposes no statistics beyond per-column
profiling (/root/reference/src/etl_utils.py and docs/data_quality.md
cover null/range/RI checks only); this module is part of the
beyond-reference analytics surface SURVEY.md's north star calls for.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ecommerce_lakehouse_spark.money import dec2
from ecommerce_lakehouse_spark.operators.scale import (
    bucketed_global_row_number,
    ntile_from_rank,
)
from ecommerce_lakehouse_spark.operators.timeseries import spike_flags_from_daily
from ecommerce_lakehouse_spark.queries import query
from ecommerce_lakehouse_spark.tables import load

# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test
# ---------------------------------------------------------------------------


@query(
    "ks_two_sample",
    oracle="""
WITH c AS (
  SELECT value,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY 1),
cum AS (
  SELECT value,
         CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS k1,
         CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS k2
  FROM c),
n AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM c),
d AS (
  SELECT max(struct_pack(
           d := abs(k1 * n2 - k2 * n1),
           negv := -value)) AS best
  FROM cum, n)
SELECT n1, n2,
       CAST(best.d AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         AS ks_d,
       -best.negv AS at_value
FROM d, n
""",
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic comparing the event-value
    distribution of 'purchase' vs 'click' events: D = max over the value
    domain of |ECDF1 − ECDF2|, the assumption-free answer to "did the
    distribution shift between segments?" — the distributional
    counterpart of `ab_test_lift`'s mean comparison.

    Determinism: the ECDF difference at value v is |k1·n2 − k2·n1| /
    (n1·n2); the argmax runs entirely on the exact integer NUMERATOR
    (cumulative counts × group totals), with a min-value tiebreak via
    max(struct(d, −value)) — struct comparison is lexicographic in both
    engines. Only the winning ratio is computed in double, as a single
    correctly-rounded division of exact inputs (left unrounded by
    policy).

    Scale: events collapse map-side to one row per DISTINCT 2dp value
    (fixed domain — bounded at any corpus size), so the unpartitioned
    cumulative window runs over the bounded value collapse, never raw
    rows; counts are BIGINT (swap to DECIMAL(38,0) past ~3e9 rows per
    side since the cross products reach n1·n2)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c2"),
    )
    cum = c.select(
        "value",
        F.sum("c1").over(Window.orderBy("value")).cast("bigint").alias("k1"),
        F.sum("c2").over(Window.orderBy("value")).cast("bigint").alias("k2"),
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    d = cum.join(F.broadcast(n)).agg(
        F.max(
            F.struct(
                F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1")).alias("d"),
                (-F.col("value")).alias("negv"),
            )
        ).alias("best")
    )
    return d.join(F.broadcast(n)).select(
        "n1",
        "n2",
        (
            F.col("best.d").cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("ks_d"),
        (-F.col("best.negv")).alias("at_value"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------


@query(
    "spearman_rank_corr",
    oracle="""
WITH vx AS (SELECT value, count(*) AS cnt FROM events GROUP BY 1),
vr AS (
  SELECT value,
         2 * CAST(sum(cnt) OVER (ORDER BY value) AS BIGINT) - cnt + 1 AS dx
  FROM vx),
hx AS (SELECT hour(ts) AS h, count(*) AS cnt FROM events GROUP BY 1),
hr AS (
  SELECT h,
         2 * CAST(sum(cnt) OVER (ORDER BY h) AS BIGINT) - cnt + 1 AS dy
  FROM hx),
j AS (
  SELECT value, hour(ts) AS h, count(*) AS n_vh
  FROM events GROUP BY 1, 2),
m AS (
  SELECT CAST(CAST(sum(n_vh) AS HUGEINT) AS DOUBLE) AS n,
         CAST(sum(CAST(n_vh AS HUGEINT) * dx) AS DOUBLE) AS sx,
         CAST(sum(CAST(n_vh AS HUGEINT) * dy) AS DOUBLE) AS sy,
         CAST(sum(CAST(n_vh AS HUGEINT) * dx * dx) AS DOUBLE) AS sxx,
         CAST(sum(CAST(n_vh AS HUGEINT) * dy * dy) AS DOUBLE) AS syy,
         CAST(sum(CAST(n_vh AS HUGEINT) * dx * dy) AS DOUBLE) AS sxy
  FROM j JOIN vr USING (value) JOIN hr USING (h))
SELECT CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         AS spearman_rho
FROM m
""",
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day —
    the monotone-association twin of `exact_moment_corr` (Pearson on raw
    values): robust to outliers and any monotone transform, the number a
    feature-screening pipeline uses before trusting a linear model.

    Fractional average ranks (the tie-handling Spearman requires) never
    materialize per row: rank_avg(v) = offset(v) + (mult(v)+1)/2 depends
    only on the sorted (value, multiplicity) collapse, so each distinct
    value carries an exact integer DOUBLE-RANK dx = 2·cum − mult + 1
    (= 2× the average rank). The five power sums over the joint
    (value, hour) histogram accumulate these integers exactly
    (DECIMAL(38,0) — n_vh·dx·dy reaches 4n³), and only the final
    closed form — identical expression order to the oracle — runs in
    double, making the result bit-identical with no rounding.

    Scale: three map-side collapses (value domain is a fixed 2dp grid;
    hour has 24 values; the joint histogram is their product), rank
    windows only over the bounded collapses, rank tables broadcast back
    onto the joint histogram. No raw-row shuffle, no per-row rank."""
    e = load(spark, sf_dir, "events")
    vx = e.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    vr = vx.select(
        "value",
        (
            2 * F.sum("cnt").over(Window.orderBy("value")).cast("bigint")
            - F.col("cnt")
            + 1
        ).alias("dx"),
    )
    hx = e.groupBy(F.hour("ts").alias("h")).agg(F.count(F.lit(1)).alias("cnt"))
    hr = hx.select(
        "h",
        (
            2 * F.sum("cnt").over(Window.orderBy("h")).cast("bigint")
            - F.col("cnt")
            + 1
        ).alias("dy"),
    )
    j = e.groupBy("value", F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_vh")
    )
    big = "decimal(38,0)"
    nv = F.col("n_vh").cast(big)
    dx, dy = F.col("dx").cast(big), F.col("dy").cast(big)
    m = (
        j.join(F.broadcast(vr), "value")
        .join(F.broadcast(hr), "h")
        .agg(
            F.sum("n_vh").cast(big).cast("double").alias("n"),
            F.sum(nv * dx).cast("double").alias("sx"),
            F.sum(nv * dy).cast("double").alias("sy"),
            F.sum(nv * dx * dx).cast("double").alias("sxx"),
            F.sum(nv * dy * dy).cast("double").alias("syy"),
            F.sum(nv * dx * dy).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        n.cast("bigint").alias("n"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b on an ordinal contingency grid
# ---------------------------------------------------------------------------


@query(
    "kendall_tau_b",
    oracle="""
WITH cells AS (
  SELECT isodow(o_orderdate) AS wd,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
         count(*) AS c
  FROM orders GROUP BY 1, 2),
pq AS (
  SELECT
    sum(CASE WHEN b.wd > a.wd AND b.pri > a.pri
             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS conc,
    sum(CASE WHEN b.wd > a.wd AND b.pri < a.pri
             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS disc
  FROM cells a, cells b),
marg AS (
  SELECT CAST(sum(c) AS HUGEINT) AS n,
         (SELECT sum(CAST(tx AS HUGEINT) * (tx - 1))
          FROM (SELECT sum(c) AS tx FROM cells GROUP BY wd)) AS tiex2,
         (SELECT sum(CAST(ty AS HUGEINT) * (ty - 1))
          FROM (SELECT sum(c) AS ty FROM cells GROUP BY pri)) AS tiey2
  FROM cells)
SELECT CAST(n AS BIGINT) AS n,
       CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
         / (sqrt((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                    - CAST(tiex2 AS DOUBLE)) / 2.0)
            * sqrt((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                    - CAST(tiey2 AS DOUBLE)) / 2.0)) AS tau_b
FROM pq, marg
""",
)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between order weekday (ISO 1-7) and order priority
    (ordinal 1-5) — ordinal association with tie correction, the
    rank-pair counterpart of `priority_status_independence`'s chi-square
    (which detects ANY dependence; tau-b additionally gives its
    DIRECTION on ordered categories).

    The O(n²) pair count never touches rows: both variables are
    domain-bounded ordinals, so orders collapse map-side to a ≤35-cell
    contingency grid and concordant/discordant pairs come from the exact
    cell-pair sum Σ c(a)·c(b) over the 35×35 grid self-join — bounded at
    ANY input size. Tie terms use the marginals. All counts are exact
    integers (DECIMAL(38,0) — pair products reach n²); the tau-b closed
    form is the only float arithmetic, in identical order to the oracle.

    Weekday numbering is the cross-engine trap: Spark weekday() is Mon=0
    and DuckDB isodow() is Mon=1 (default dayofweek numberings DISAGREE);
    both sides use the explicit ISO form."""
    o = load(spark, sf_dir, "orders")
    cells = o.groupBy(
        (F.weekday("o_orderdate") + 1).alias("wd"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("pri"),
    ).agg(F.count(F.lit(1)).alias("c"))
    big = "decimal(38,0)"
    a = cells.select(
        F.col("wd").alias("awd"), F.col("pri").alias("apri"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("wd").alias("bwd"), F.col("pri").alias("bpri"), F.col("c").alias("bc")
    )
    pq = (
        a.join(F.broadcast(b))
        .agg(
            F.sum(
                F.when(
                    (F.col("bwd") > F.col("awd")) & (F.col("bpri") > F.col("apri")),
                    F.col("ac").cast(big) * F.col("bc"),
                ).otherwise(F.lit(0).cast(big))
            ).alias("conc"),
            F.sum(
                F.when(
                    (F.col("bwd") > F.col("awd")) & (F.col("bpri") < F.col("apri")),
                    F.col("ac").cast(big) * F.col("bc"),
                ).otherwise(F.lit(0).cast(big))
            ).alias("disc"),
        )
    )
    n_tot = cells.agg(F.sum("c").cast(big).alias("n"))
    tiex = (
        cells.groupBy("wd")
        .agg(F.sum("c").alias("tx"))
        .agg(F.sum(F.col("tx").cast(big) * (F.col("tx") - 1)).alias("tiex2"))
    )
    tiey = (
        cells.groupBy("pri")
        .agg(F.sum("c").alias("ty"))
        .agg(F.sum(F.col("ty").cast(big) * (F.col("ty") - 1)).alias("tiey2"))
    )
    m = pq.join(F.broadcast(n_tot)).join(F.broadcast(tiex)).join(F.broadcast(tiey))
    nD = F.col("n").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        (
            (F.col("conc").cast("double") - F.col("disc").cast("double"))
            / (
                F.sqrt(
                    (nD * (F.col("n") - 1).cast("double")
                     - F.col("tiex2").cast("double"))
                    / F.lit(2.0)
                )
                * F.sqrt(
                    (nD * (F.col("n") - 1).cast("double")
                     - F.col("tiey2").cast("double"))
                    / F.lit(2.0)
                )
            )
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# OLS trend over the monthly revenue series
# ---------------------------------------------------------------------------


@query(
    "revenue_trend_ols",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(
           list_sort(list({'month': month, 'rev': revenue})),
           x -> [x.rev]) AS ys
  FROM m),
folded AS (
  SELECT list_reduce(
           list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0], ys),
           (acc, e) -> [acc[1] + 1.0,
                        acc[2] + acc[1],
                        acc[3] + e[1],
                        acc[4] + acc[1] * acc[1],
                        acc[5] + e[1] * e[1],
                        acc[6] + acc[1] * e[1]]) AS s
  FROM arr),
fit AS (
  SELECT CAST(s[1] AS BIGINT) AS n_months,
         (s[1] * s[6] - s[2] * s[3]) / (s[1] * s[4] - s[2] * s[2]) AS slope,
         s[1] AS n, s[2] AS st, s[3] AS sy, s[4] AS stt, s[5] AS syy,
         s[6] AS sty
  FROM folded)
SELECT n_months, slope,
       (sy - slope * st) / n AS intercept,
       ((n * sty - st * sy) * (n * sty - st * sy))
         / ((n * stt - st * st) * (n * syy - sy * sy)) AS r2,
       (sy - slope * st) / n + slope * n AS forecast_next
FROM fit
""",
)
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend line over the monthly revenue series
    (y = revenue, t = 0-based month index): slope, intercept, R², and
    the next-month extrapolation — the parametric trend member of the
    time-series family (exp_smoothing = level, this = direction + fit
    quality; R² is the number that says whether `monthly_revenue_growth`
    noise hides a real trend).

    Determinism: monthly revenues are exact-decimal sums rendered once
    to double; the five OLS power sums are computed by ONE fold over the
    month-sorted array — both engines execute the identical sequence of
    IEEE adds/multiplies (sum-of-double association order is the
    cross-engine trap; a position-ordered fold pins it). The closed form
    divides bit-identical doubles in identical order.

    Scale: the corpus collapses map-side to one row per month; only the
    bounded month array is folded inside one task — the standard shape
    for any bounded recursion/series statistic (see exp_smoothing)."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    arr = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "revenue"))).alias("a")
    )
    folded = arr.select(
        F.expr(
            """
aggregate(
  transform(a, x -> x.revenue),
  array(CAST(0.0 AS DOUBLE), 0.0D, 0.0D, 0.0D, 0.0D, 0.0D),
  (acc, e) -> array(acc[0] + 1.0,
                    acc[1] + acc[0],
                    acc[2] + e,
                    acc[3] + acc[0] * acc[0],
                    acc[4] + e * e,
                    acc[5] + acc[0] * e))
""".strip()
        ).alias("s")
    )
    s = [F.col("s").getItem(i) for i in range(6)]
    n, st, sy, stt, syy, sty = s
    slope = (n * sty - st * sy) / (n * stt - st * st)
    fit = folded.select(
        n.cast("bigint").alias("n_months"),
        slope.alias("slope"),
        n.alias("n"), st.alias("st"), sy.alias("sy"),
        stt.alias("stt"), syy.alias("syy"), sty.alias("sty"),
    )
    n2, st2, sy2 = F.col("n"), F.col("st"), F.col("sy")
    stt2, syy2, sty2 = F.col("stt"), F.col("syy"), F.col("sty")
    sl = F.col("slope")
    return fit.select(
        "n_months",
        "slope",
        ((sy2 - sl * st2) / n2).alias("intercept"),
        (
            ((n2 * sty2 - st2 * sy2) * (n2 * sty2 - st2 * sy2))
            / ((n2 * stt2 - st2 * st2) * (n2 * syy2 - sy2 * sy2))
        ).alias("r2"),
        ((sy2 - sl * st2) / n2 + sl * n2).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential smoothing)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.2
_HOLT_H = 3


@query(
    "holt_linear_forecast",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_sort(list({{'month': month, 'rev': revenue}})) AS a FROM m),
folded AS (
  SELECT list_reduce(
           list_prepend(
             [{{'month': a[1].month, 'rev': a[1].rev, 'l': a[1].rev,
                'b': a[2].rev - a[1].rev, 'fitted': CAST(NULL AS DOUBLE)}}],
             list_transform(a[2:], x -> [{{'month': x.month, 'rev': x.rev,
               'l': x.rev, 'b': CAST(0 AS DOUBLE),
               'fitted': CAST(NULL AS DOUBLE)}}])),
           (acc, e) -> list_append(acc, {{
             'month': e[1].month, 'rev': e[1].rev,
             'l': CAST({_HOLT_ALPHA} AS DOUBLE) * e[1].rev
                  + (1.0 - CAST({_HOLT_ALPHA} AS DOUBLE))
                    * (acc[-1].l + acc[-1].b),
             'b': CAST({_HOLT_BETA} AS DOUBLE)
                    * ((CAST({_HOLT_ALPHA} AS DOUBLE) * e[1].rev
                        + (1.0 - CAST({_HOLT_ALPHA} AS DOUBLE))
                          * (acc[-1].l + acc[-1].b)) - acc[-1].l)
                  + (1.0 - CAST({_HOLT_BETA} AS DOUBLE)) * acc[-1].b,
             'fitted': acc[-1].l + acc[-1].b}})) AS st
  FROM arr),
fits AS (
  SELECT u.month, u.rev AS revenue, u.l AS level, u.b AS trend, u.fitted
  FROM (SELECT unnest(st) AS u FROM folded)),
last AS (
  SELECT st[-1].month AS lm, st[-1].l AS l, st[-1].b AS b FROM folded),
fc AS (
  SELECT CAST(lm + to_months(h) AS DATE) AS month,
         CAST(NULL AS DOUBLE) AS revenue,
         CAST(NULL AS DOUBLE) AS level, CAST(NULL AS DOUBLE) AS trend,
         l + CAST(h AS DOUBLE) * b AS fitted
  FROM last, (SELECT unnest([1, 2, 3]) AS h))
SELECT * FROM fits UNION ALL SELECT * FROM fc
""",
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over monthly
    revenue, plus a 3-month-ahead forecast: level l_t = α·y_t +
    (1−α)(l_{t−1}+b_{t−1}), trend b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1},
    initialized l_1 = y_1, b_1 = y_2 − y_1; the trend-aware upgrade of
    `exp_smoothing_revenue` (whose flat level lags any drifting series),
    with the one-step-ahead fitted value l_{t−1}+b_{t−1} per month and
    ŷ_{T+h} = l_T + h·b_T forecast rows appended (revenue NULL).

    Determinism: a coupled two-state recursion is order-dependent, so it
    runs as ONE fold over the month-sorted array; the level expression
    is repeated verbatim inside the trend update (no intermediate
    binding) so both engines execute the identical multiply-add
    sequence — bit-identical with no rounding. α, β are shared literals.

    Scale: corpus → one exact-decimal row per month map-side; the fold
    touches only the bounded month array (see exp_smoothing_revenue)."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    arr = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "revenue"))).alias("a")
    )
    al, be = _HOLT_ALPHA, _HOLT_BETA
    folded = arr.select(
        F.expr(
            f"""
aggregate(
  slice(a, 2, size(a) - 1),
  array(struct(a[0].month AS month, a[0].revenue AS rev,
               a[0].revenue AS l,
               a[1].revenue - a[0].revenue AS b,
               CAST(NULL AS DOUBLE) AS fitted)),
  (acc, x) -> concat(acc, array(struct(
    x.month AS month, x.revenue AS rev,
    CAST({al} AS DOUBLE) * x.revenue
      + (1.0 - CAST({al} AS DOUBLE))
        * (element_at(acc, -1).l + element_at(acc, -1).b) AS l,
    CAST({be} AS DOUBLE)
      * ((CAST({al} AS DOUBLE) * x.revenue
          + (1.0 - CAST({al} AS DOUBLE))
            * (element_at(acc, -1).l + element_at(acc, -1).b))
         - element_at(acc, -1).l)
      + (1.0 - CAST({be} AS DOUBLE)) * element_at(acc, -1).b AS b,
    element_at(acc, -1).l + element_at(acc, -1).b AS fitted))))
""".strip()
        ).alias("st")
    )
    fits = folded.select(F.explode("st").alias("u")).select(
        F.col("u.month").alias("month"),
        F.col("u.rev").alias("revenue"),
        F.col("u.l").alias("level"),
        F.col("u.b").alias("trend"),
        F.col("u.fitted").alias("fitted"),
    )
    last = folded.select(
        F.element_at("st", -1).getField("month").alias("lm"),
        F.element_at("st", -1).getField("l").alias("l"),
        F.element_at("st", -1).getField("b").alias("b"),
    )
    hs = spark.range(1).select(
        F.explode(F.array(*[F.lit(h) for h in range(1, _HOLT_H + 1)])).alias("h")
    )
    fc = last.join(F.broadcast(hs)).select(
        F.add_months("lm", F.col("h")).alias("month"),
        F.lit(None).cast("double").alias("revenue"),
        F.lit(None).cast("double").alias("level"),
        F.lit(None).cast("double").alias("trend"),
        (F.col("l") + F.col("h").cast("double") * F.col("b")).alias("fitted"),
    )
    return fits.unionAll(fc)


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum location test)
# ---------------------------------------------------------------------------


@query(
    "mann_whitney_u",
    oracle="""
WITH c AS (
  SELECT value,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY 1),
r AS (
  SELECT value, c1, c2, c1 + c2 AS m,
         2 * CAST(sum(c1 + c2) OVER (ORDER BY value) AS BIGINT)
           - (c1 + c2) + 1 AS dr
  FROM c),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         sum(CAST(c1 AS HUGEINT) * dr) AS r1x2,
         sum(CAST(m AS HUGEINT) * m * m - m) AS ties
  FROM r),
u AS (
  SELECT n1, n2,
         CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
         CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(n1 + n2 AS DOUBLE) AS nd, CAST(ties AS DOUBLE) AS td
  FROM agg)
SELECT n1, n2, u1_x2,
       (u1 - (n1d * n2d) / 2.0)
         / sqrt((n1d * n2d / 12.0)
                * ((nd + 1.0) - td / (nd * (nd - 1.0)))) AS z_score
FROM u
""",
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test ('purchase' vs 'click' event
    values): the nonparametric location-shift test completing the
    two-sample family — `ks_two_sample` detects ANY distributional
    difference, U asks specifically "does one group stochastically
    dominate?", and `ab_test_lift` assumes means matter. z is the
    normal approximation with the standard tie correction (no
    continuity correction — both engines compute the identical
    expression).

    Determinism: combined average ranks use the same integer
    DOUBLE-RANK device as `spearman_rank_corr` (dr = 2·cum − m + 1 over
    the value collapse), so the rank sum R1 and U1 are exact integers
    carried as 2× values (U1 itself can be half-integer under ties);
    the tie term Σ(m³−m) is exact DECIMAL(38,0). The z closed form is
    the only float arithmetic, in identical order to the oracle. u1_x2
    is emitted as BIGINT (headroom to ~3e9 rows/side; the z pipeline
    itself never leaves decimal/double).

    Scale: one map-side collapse to the bounded 2dp value domain; one
    bounded window; one 1-row aggregate."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c2"),
    )
    m = F.col("c1") + F.col("c2")
    r = c.select(
        "c1",
        "c2",
        m.alias("m"),
        (2 * F.sum(m).over(Window.orderBy("value")).cast("bigint") - m + 1).alias(
            "dr"
        ),
    )
    big = "decimal(38,0)"
    agg = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1").cast(big) * F.col("dr")).alias("r1x2"),
        F.sum(
            F.col("m").cast(big) * F.col("m") * F.col("m") - F.col("m")
        ).alias("ties"),
    )
    u1x2 = F.col("r1x2") - F.col("n1").cast(big) * (F.col("n1") + 1)
    u = agg.select(
        "n1",
        "n2",
        u1x2.cast("bigint").alias("u1_x2"),
        (u1x2.cast("double") / F.lit(2.0)).alias("u1"),
        F.col("n1").cast("double").alias("n1d"),
        F.col("n2").cast("double").alias("n2d"),
        (F.col("n1") + F.col("n2")).cast("double").alias("nd"),
        F.col("ties").cast("double").alias("td"),
    )
    return u.select(
        "n1",
        "n2",
        "u1_x2",
        (
            (F.col("u1") - (F.col("n1d") * F.col("n2d")) / F.lit(2.0))
            / F.sqrt(
                (F.col("n1d") * F.col("n2d") / F.lit(12.0))
                * (
                    (F.col("nd") + F.lit(1.0))
                    - F.col("td") / (F.col("nd") * (F.col("nd") - F.lit(1.0)))
                )
            )
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope
# ---------------------------------------------------------------------------


@query(
    "revenue_theil_sen",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
slopes AS (
  SELECT (b.revenue - a.revenue)
           / CAST(date_diff('month', a.month, b.month) AS DOUBLE) AS slope
  FROM m a JOIN m b ON b.month > a.month),
arr AS (
  SELECT list(slope ORDER BY slope) AS s, count(*) AS np FROM slopes),
meta AS (SELECT count(*) AS nm FROM m)
SELECT CAST(nm AS BIGINT) AS n_months,
       CAST(np AS BIGINT) AS n_pairs,
       CASE WHEN np % 2 = 1 THEN s[CAST((np + 1) // 2 AS INT)]
            ELSE (s[CAST(np // 2 AS INT)] + s[CAST(np // 2 + 1 AS INT)]) / 2.0
       END AS theil_sen_slope
FROM arr, meta
""",
)
def revenue_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator over the monthly revenue series: the median
    of all pairwise slopes (y_j − y_i)/(t_j − t_i) — the robust twin of
    `revenue_trend_ols` (a 29% outlier-month breakdown point vs OLS's
    zero; when the two disagree, an outlier is driving the OLS fit).

    Determinism: monthly revenues are exact-decimal sums rendered once
    to double; each pairwise slope is a single division of exact inputs
    (month gaps are exact integers), left unrounded by policy; the
    median is pure selection on the sorted slope array — both engines
    sort identical doubles identically — with the even-count midpoint
    the only further float op, identical both sides.

    Scale: the corpus collapses map-side to one row per month; the
    pairwise expansion is months², bounded by the CALENDAR (~84 months
    → ~3.5k pairs) at any corpus size, via a broadcast self-join; the
    median is one in-row selection."""
    o = load(spark, sf_dir, "orders")
    mm = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    a = mm.select(F.col("month").alias("am"), F.col("revenue").alias("ar"))
    b = mm.select(F.col("month").alias("bm"), F.col("revenue").alias("br"))
    slopes = a.join(F.broadcast(b), F.col("bm") > F.col("am")).select(
        (
            (F.col("br") - F.col("ar"))
            / F.months_between(F.col("bm"), F.col("am")).cast("double")
        ).alias("slope")
    )
    nm = mm.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    arr = slopes.agg(
        F.sort_array(F.collect_list("slope")).alias("s"),
        F.count(F.lit(1)).alias("np"),
    )
    mid_odd = F.element_at("s", ((F.col("np") + 1) / 2).cast("int"))
    lo = F.element_at("s", (F.col("np") / 2).cast("int"))
    hi = F.element_at("s", (F.col("np") / 2 + 1).cast("int"))
    return arr.join(F.broadcast(nm)).select(
        "n_months",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.when(F.col("np") % 2 == 1, mid_odd)
        .otherwise((lo + hi) / F.lit(2.0))
        .alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest
# ---------------------------------------------------------------------------

_BT_ALPHA = 0.3
_BT_H = 12


@query(
    "forecast_backtest_mae",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({{'month': month, 'rev': revenue}})),
                        x -> x.rev) AS a,
         count(*) AS n
  FROM m),
ses AS (
  SELECT a, n, list_reduce(
           list_prepend([a[1]], list_transform(a[2:], x -> [x])),
           (acc, e) -> list_append(acc,
             CAST({_BT_ALPHA} AS DOUBLE) * e[1]
               + (1.0 - CAST({_BT_ALPHA} AS DOUBLE)) * acc[-1])) AS s
  FROM arr),
mae AS (
  SELECT CAST(n AS BIGINT) AS n_months,
         list_reduce(
           list_prepend([0.0], list_transform(range(n - {_BT_H} + 1, n + 1),
                                              t -> [abs(a[t - 1] - a[t])])),
           (acc, e) -> [acc[1] + e[1]])[1] / {_BT_H}.0 AS mae_naive,
         list_reduce(
           list_prepend([0.0], list_transform(range(n - {_BT_H} + 1, n + 1),
                                              t -> [abs(a[t - 12] - a[t])])),
           (acc, e) -> [acc[1] + e[1]])[1] / {_BT_H}.0 AS mae_snaive,
         list_reduce(
           list_prepend([0.0], list_transform(range(n - {_BT_H} + 1, n + 1),
                                              t -> [abs(s[t - 1] - a[t])])),
           (acc, e) -> [acc[1] + e[1]])[1] / {_BT_H}.0 AS mae_ses
  FROM ses)
SELECT n_months, mae_naive, mae_snaive, mae_ses,
       CASE WHEN mae_naive <= mae_snaive AND mae_naive <= mae_ses
              THEN 'naive'
            WHEN mae_snaive <= mae_ses THEN 'seasonal_naive'
            ELSE 'ses' END AS best_method
FROM mae
""",
)
def forecast_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest over the monthly revenue
    series: one-step-ahead forecasts for the last 12 months from three
    standard baselines — naive (last value), seasonal naive (value 12
    months back), and simple exponential smoothing (alpha 0.3, the
    registered `exp_smoothing_revenue` model) — each scored by MAE, and
    the winner named. Forecast EVALUATION is the operational question
    the fitting queries (`revenue_trend_ols`, `holt_linear_forecast`,
    `exp_smoothing_revenue`) leave open: a model you have not
    backtested is a guess. Seasonal naive beating SES here is the
    standard signal that a seasonal term (not just level smoothing) is
    required.

    Determinism: the series and the SES prefix are position-ordered
    array folds (the exp_smoothing discipline); each MAE is a
    sequential in-order fold of |error| then one division by the
    literal horizon; the winner is pure comparison of bit-identical
    doubles with a fixed tie order (naive ≺ seasonal ≺ ses).

    Scale: corpus → one exact-decimal row per month map-side; all
    folds run over the bounded month array inside one task."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    arr = m.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(month, revenue)))"
            ", x -> x.revenue)"
        ).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    al, h = _BT_ALPHA, _BT_H
    ses = arr.select(
        "a",
        "n",
        F.expr(
            f"""
aggregate(slice(a, 2, size(a) - 1), array(a[0]),
          (acc, x) -> concat(acc, array(
            CAST({al} AS DOUBLE) * x
              + (1.0 - CAST({al} AS DOUBLE)) * element_at(acc, -1))))
""".strip()
        ).alias("s"),
    )

    def mae(fc_expr: str) -> str:
        # t is the 0-based index of the forecast TARGET month
        return (
            f"aggregate(transform(sequence(n - {h}, n - 1), "
            f"t -> abs({fc_expr} - a[t])), CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x) / {h}.0"
        )

    out = ses.select(
        F.col("n").cast("long").alias("n_months"),
        F.expr(mae("a[t - 1]")).alias("mae_naive"),
        F.expr(mae("a[t - 12]")).alias("mae_snaive"),
        F.expr(mae("s[t - 1]")).alias("mae_ses"),
    )
    return out.select(
        "n_months",
        "mae_naive",
        "mae_snaive",
        "mae_ses",
        F.when(
            (F.col("mae_naive") <= F.col("mae_snaive"))
            & (F.col("mae_naive") <= F.col("mae_ses")),
            "naive",
        )
        .when(F.col("mae_snaive") <= F.col("mae_ses"), "seasonal_naive")
        .otherwise("ses")
        .alias("best_method"),
    )


# ---------------------------------------------------------------------------
# Decision-stump split by information gain
# ---------------------------------------------------------------------------


@query(
    "best_split_infogain",
    oracle="""
WITH c AS (
  SELECT value,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY 1),
cum AS (
  SELECT value,
         CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS a1,
         CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS a2
  FROM c),
n AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM c),
ig AS (
  SELECT value, a1, a2,
         CAST(round((
           -- parent entropy
           -(CAST(n1 AS DOUBLE) / (n1 + n2)) * ln(CAST(n1 AS DOUBLE) / (n1 + n2))
           - (CAST(n2 AS DOUBLE) / (n1 + n2)) * ln(CAST(n2 AS DOUBLE) / (n1 + n2))
           -- minus weighted child entropies (0·ln0 := 0 via NULLIF guard)
           - (CAST(a1 + a2 AS DOUBLE) / (n1 + n2)) * (
               COALESCE(-(CAST(a1 AS DOUBLE) / (a1 + a2))
                          * ln(NULLIF(CAST(a1 AS DOUBLE) / (a1 + a2), 0.0)), 0.0)
             + COALESCE(-(CAST(a2 AS DOUBLE) / (a1 + a2))
                          * ln(NULLIF(CAST(a2 AS DOUBLE) / (a1 + a2), 0.0)), 0.0))
           - (CAST((n1 - a1) + (n2 - a2) AS DOUBLE) / (n1 + n2)) * (
               COALESCE(-(CAST(n1 - a1 AS DOUBLE) / ((n1 - a1) + (n2 - a2)))
                          * ln(NULLIF(CAST(n1 - a1 AS DOUBLE)
                                      / ((n1 - a1) + (n2 - a2)), 0.0)), 0.0)
             + COALESCE(-(CAST(n2 - a2 AS DOUBLE) / ((n1 - a1) + (n2 - a2)))
                          * ln(NULLIF(CAST(n2 - a2 AS DOUBLE)
                                      / ((n1 - a1) + (n2 - a2)), 0.0)), 0.0))
         ) * 1000000000) AS BIGINT) AS ig_nanos
  FROM cum, n
  WHERE a1 + a2 > 0 AND (n1 - a1) + (n2 - a2) > 0),
best AS (
  SELECT max(struct_pack(g := ig_nanos, negv := -value)) AS b FROM ig)
SELECT -b.negv AS split_value, b.g AS ig_nanos,
       i.a1 AS left_purchase, i.a2 AS left_click,
       n.n1 - i.a1 AS right_purchase, n.n2 - i.a2 AS right_click
FROM best, ig i, n
WHERE i.value = -b.negv
""",
)
def best_split_infogain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best decision-stump split of event value separating 'purchase'
    from 'click': the threshold maximizing information gain — the CART
    split criterion and the univariate feature screen ("how predictive
    is this column at all?") run before any model training. Degenerate
    splits (an empty child) are excluded; 0·ln0 is defined as 0.

    Determinism: candidate thresholds are the distinct values; left
    counts come from exact cumulative integers over the value collapse
    (the ks_two_sample device); each candidate's gain — the only
    transcendental expression — is computed from exact integer counts
    in one fixed-order double expression and rounded ONCE into integer
    NANOS, so the argmax (ties: min threshold, via max(struct(gain,
    −value))) is pure integer comparison.

    Scale: one map-side collapse to the bounded value domain, one
    bounded window, a 1-row argmax; no per-row entropy anywhere."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c2"),
    )
    cum = c.select(
        "value",
        F.sum("c1").over(Window.orderBy("value")).cast("bigint").alias("a1"),
        F.sum("c2").over(Window.orderBy("value")).cast("bigint").alias("a2"),
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )

    def ent_term(num, den):
        frac = num.cast("double") / den
        return F.coalesce(
            -frac * F.log(F.nullif(frac, F.lit(0.0))), F.lit(0.0)
        )

    n1, n2 = F.col("n1"), F.col("n2")
    a1, a2 = F.col("a1"), F.col("a2")
    tot = n1 + n2
    nl, nr = a1 + a2, (n1 - a1) + (n2 - a2)
    parent = (
        -(n1.cast("double") / tot) * F.log(n1.cast("double") / tot)
        - (n2.cast("double") / tot) * F.log(n2.cast("double") / tot)
    )
    left = ent_term(a1, nl) + ent_term(a2, nl)
    right = ent_term(n1 - a1, nr) + ent_term(n2 - a2, nr)
    gain = (
        parent
        - (nl.cast("double") / tot) * left
        - (nr.cast("double") / tot) * right
    )
    ig = (
        cum.join(F.broadcast(n))
        .filter((nl > 0) & (nr > 0))
        .select(
            "value",
            "a1",
            "a2",
            F.round(gain * 1000000000).cast("long").alias("ig_nanos"),
        )
    )
    best = ig.agg(
        F.max(
            F.struct(F.col("ig_nanos").alias("g"), (-F.col("value")).alias("negv"))
        ).alias("b")
    )
    hit = ig.join(F.broadcast(best), F.col("value") == -F.col("b.negv"))
    return hit.join(F.broadcast(n)).select(
        F.col("value").alias("split_value"),
        F.col("b.g").alias("ig_nanos"),
        F.col("a1").alias("left_purchase"),
        F.col("a2").alias("left_click"),
        (F.col("n1") - F.col("a1")).alias("right_purchase"),
        (F.col("n2") - F.col("a2")).alias("right_click"),
    )


# ---------------------------------------------------------------------------
# Zipf fit of the token rank-frequency curve
# ---------------------------------------------------------------------------


@query(
    "token_zipf_fit",
    oracle=r"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents),
f AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
r AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk
  FROM f),
pts AS (
  SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
         round(ln(CAST(cnt AS DOUBLE)), 9) AS y
  FROM r),
arr AS (
  SELECT list_sort(list([x, y])) AS a, count(*) AS n FROM pts),
folded AS (
  SELECT n, list_reduce(
           list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                        list_transform(a, p -> [p[1], p[2], 0.0, 0.0, 0.0])),
           (acc, e) -> [acc[1] + e[1], acc[2] + e[2],
                        acc[3] + e[1] * e[1], acc[4] + e[2] * e[2],
                        acc[5] + e[1] * e[2]]) AS s
  FROM arr)
SELECT CAST(n AS BIGINT) AS n_tokens,
       (CAST(n AS DOUBLE) * s[5] - s[1] * s[2])
         / (CAST(n AS DOUBLE) * s[3] - s[1] * s[1]) AS zipf_slope,
       ((CAST(n AS DOUBLE) * s[5] - s[1] * s[2])
          * (CAST(n AS DOUBLE) * s[5] - s[1] * s[2]))
         / ((CAST(n AS DOUBLE) * s[3] - s[1] * s[1])
            * (CAST(n AS DOUBLE) * s[4] - s[2] * s[2])) AS r2
FROM folded
""",
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token rank-frequency curve: OLS of
    ln(freq) on ln(rank); the slope estimates −s (natural text sits
    near −1) and R² says how Zipfian the corpus is — the one-number
    naturalness check for a synthetic or heavily-filtered corpus
    (a flat slope or low R² flags templated/artificial text), next to
    `token_frequencies` (the head of the same curve) and
    `gopher_quality_flags` (per-doc heuristics).

    Determinism: ranks are total-ordered (count desc, token asc); both
    logs are rounded ONCE to 9dp (ln differs in the last ulp across
    engines); the OLS power sums then run as a position-ordered fold
    over the (x, y)-sorted point list so both engines execute identical
    IEEE adds; the closed form is fixed-order.

    Scale: the token collapse is vocabulary-bounded; the rank window
    and the fold run over that bounded set, never the corpus."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    f = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    r = f.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .alias("rnk"),
    )
    pts = r.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9).alias("y"),
    )
    arr = pts.agg(
        F.sort_array(F.collect_list(F.array("x", "y"))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    folded = arr.select(
        "n",
        F.expr(
            """
aggregate(a, array(CAST(0.0 AS DOUBLE), 0.0D, 0.0D, 0.0D, 0.0D),
          (acc, e) -> array(acc[0] + e[0], acc[1] + e[1],
                            acc[2] + e[0] * e[0], acc[3] + e[1] * e[1],
                            acc[4] + e[0] * e[1]))
""".strip()
        ).alias("s"),
    )
    nD = F.col("n").cast("double")
    sx, sy = F.col("s").getItem(0), F.col("s").getItem(1)
    sxx, syy, sxy = (
        F.col("s").getItem(2),
        F.col("s").getItem(3),
        F.col("s").getItem(4),
    )
    return folded.select(
        F.col("n").cast("long").alias("n_tokens"),
        ((nD * sxy - sx * sy) / (nD * sxx - sx * sx)).alias("zipf_slope"),
        (
            ((nD * sxy - sx * sy) * (nD * sxy - sx * sy))
            / ((nD * sxx - sx * sx) * (nD * syy - sy * sy))
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration
# ---------------------------------------------------------------------------


@query(
    "hhi_revenue_concentration",
    oracle="""
WITH rev AS (
  SELECT n.n_name,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t, count(*) AS k FROM rev),
arr AS (
  SELECT t, k, list(cents ORDER BY cents DESC, n_name) AS a FROM rev, tot
  GROUP BY t, k),
fold AS (
  SELECT k, a, t, list_reduce(
           list_prepend([0.0], list_transform(a, c -> [
             (CAST(c AS DOUBLE) / t) * (CAST(c AS DOUBLE) / t)])),
           (acc, e) -> [acc[1] + e[1]])[1] AS hhi
  FROM arr)
SELECT CAST(k AS BIGINT) AS n_groups,
       CAST(a[1] AS DOUBLE) / t AS top_share,
       hhi,
       1.0 / k AS hhi_floor
FROM fold
""",
)
def hhi_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of revenue concentration across
    customer nations: HHI = Σ share² (1/k = perfectly even, 1 =
    single-market), with the top market's share alongside — the
    market-structure single number next to `customer_spend_gini`'s
    customer-level inequality (and the same statistic audits corpus
    token-count concentration across sources). US antitrust rule of
    thumb: HHI > 0.25 is 'highly concentrated'.

    Determinism: per-nation revenue is an exact-decimal sum carried as
    integer CENTS; shares are exact-input divisions; the Σ share² runs
    as a position-ordered fold over the (cents desc, name)-sorted
    bounded group list, so both engines add identical doubles in
    identical order.

    Scale: orders collapse map-side through the broadcast dimension
    ladder into ≤25 nation rows; everything after is in-row."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            (F.sum(dec2("o_totalprice")) * 100).cast("long").alias("cents")
        )
    )
    tot = rev.agg(
        F.sum("cents").cast("long").alias("t"),
        F.count(F.lit(1)).alias("k"),
    )
    arr = rev.join(F.broadcast(tot)).groupBy("t", "k").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(-cents AS nc, n_name, "
            "cents))), x -> x.cents)"
        ).alias("a")
    )
    fold = arr.select(
        "k",
        "a",
        "t",
        F.expr(
            "aggregate(a, CAST(0.0 AS DOUBLE), (acc, c) -> acc + "
            "(CAST(c AS DOUBLE) / t) * (CAST(c AS DOUBLE) / t))"
        ).alias("hhi"),
    )
    return fold.select(
        F.col("k").cast("long").alias("n_groups"),
        (F.col("a").getItem(0).cast("double") / F.col("t")).alias("top_share"),
        "hhi",
        (F.lit(1.0) / F.col("k")).alias("hhi_floor"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) operator
# ---------------------------------------------------------------------------


@query(
    "pareto_customer_skyline",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1),
sp AS (SELECT cents, max(cnt) AS mx FROM cust GROUP BY 1),
d AS (
  SELECT cents, mx,
         max(mx) OVER (ORDER BY cents DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS suf
  FROM sp)
SELECT c.o_custkey AS c_custkey,
       CAST(c.cents AS DOUBLE) / 100.0 AS total_spend,
       c.cnt AS n_orders
FROM cust c JOIN d USING (cents)
WHERE c.cnt = d.mx AND d.mx > COALESCE(d.suf, -1)
ORDER BY c.cents DESC, c.o_custkey
""",
)
def pareto_customer_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of customers over (lifetime spend,
    order count): customers not dominated in BOTH dimensions — the
    classic database skyline operator (Börzsönyi et al. 2001) Spark has
    no native form of, and the segmentation answer 'who are the
    frontier customers?' that top-k by one measure cannot give.
    Dominance: p dominates q iff p >= q in both dims and > in at least
    one; ties on both dims keep both.

    Distributed form — the 2D skyline sweep decomposes exactly like
    bucketed_global_row_number: (1) collapse to distinct spend values
    with the max count per value; (2) the strict-suffix max D(s) =
    max{count | spend > s} splits into a <=1024-row BUCKET suffix (one
    bounded window) plus a within-bucket strict suffix (per-bucket
    windows over ~1/1024 of the distinct values) — buckets are
    fixed-width on spend, so bucket order is value order and a higher
    bucket means STRICTLY greater spend; (3) a customer survives iff
    its count equals its spend-value max and beats D(s). No
    single-partition window anywhere; the oracle's global-window form
    is the SPEC, not the plan.

    Determinism: spend is exact integer cents; everything up to the
    final /100 render is integer comparison."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("long").alias("cents"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    from ecommerce_lakehouse_spark.operators.scale import fixed_width_bucket

    stats = cust.agg(
        F.min("cents").cast("double").alias("vmin"),
        F.max("cents").cast("double").alias("vmax"),
    )
    cb = cust.join(F.broadcast(stats)).withColumn(
        "b",
        fixed_width_bucket(
            F.col("cents").cast("double"), F.col("vmin"), F.col("vmax"), 1024
        ),
    ).select("o_custkey", "cents", "cnt", "b")
    sp = cb.groupBy("b", "cents").agg(F.max("cnt").alias("mx"))
    bmax = sp.groupBy("b").agg(F.max("mx").alias("bm"))
    wb = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    bsuf = bmax.select(
        "b", F.max("bm").over(wb).alias("bsuf")
    )
    ww = Window.partitionBy("b").orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    d = (
        sp.withColumn("wsuf", F.max("mx").over(ww))
        .join(F.broadcast(bsuf), "b")
        .select(
            "b",
            "cents",
            "mx",
            F.greatest(
                F.coalesce("bsuf", F.lit(-1)), F.coalesce("wsuf", F.lit(-1))
            ).alias("suf"),
        )
    )
    keep = cb.join(d, ["b", "cents"]).filter(
        (F.col("cnt") == F.col("mx")) & (F.col("mx") > F.col("suf"))
    )
    return keep.select(
        F.col("o_custkey").alias("c_custkey"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("total_spend"),
        F.col("cnt").alias("n_orders"),
    ).orderBy(F.desc("total_spend"), "c_custkey")


# ---------------------------------------------------------------------------
# Split-conformal forecast interval
# ---------------------------------------------------------------------------

_CF_H = 12  # calibration window (last H one-step naive residuals)
_CF_RANK = 11  # ceil((H+1) * (1 - alpha)) with alpha = 1/6: ceil(13 * 5/6)


@query(
    "conformal_forecast_interval",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({{'month': month, 'rev': revenue}})),
                        x -> x.rev) AS a,
         max(month) AS last_month,
         count(*) AS n
  FROM m),
res AS (
  SELECT a, last_month, n,
         list_sort(list_transform(range(n - {_CF_H} + 1, n + 1),
                                  t -> abs(a[t] - a[t - 1]))) AS r
  FROM arr)
SELECT CAST(last_month + to_months(1) AS DATE) AS forecast_month,
       a[n] AS point_forecast,
       a[n] - r[{_CF_RANK}] AS lower_bound,
       a[n] + r[{_CF_RANK}] AS upper_bound,
       r[{_CF_RANK}] AS q_resid,
       CAST({_CF_H} AS BIGINT) AS n_calibration
FROM res
""",
)
def conformal_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for next month's revenue
    around the naive (last-value) forecast: calibrate on the last 12
    one-step absolute residuals |y_t − y_{t−1}|, take the k-th smallest
    with k = ceil((H+1)(1−α)) = 11 (H = 12, α = 1/6 — per conformal
    theory the interval then covers with probability ≥ 1 − α under
    exchangeability, NO distributional assumption), and report
    [point − q, point + q]. This is the distribution-free uncertainty
    the point-forecast family (`forecast_backtest_mae` picks the model;
    this wraps honest error bars around it) — the modern default for
    production forecast monitoring (Vovk et al.; split-conformal per
    Lei et al. 2018).

    Determinism: residuals are differences of exact-2dp doubles; the
    calibration quantile is pure SELECTION on the sorted residual list
    (k is a shared literal); the interval arithmetic is two fixed-order
    adds. No rounding anywhere.

    Scale: corpus → one exact-decimal row per month map-side; the
    residual list and selection live inside one task."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    arr = m.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(month, revenue)))"
            ", x -> x.revenue)"
        ).alias("a"),
        F.max("month").alias("last_month"),
        F.count(F.lit(1)).alias("n"),
    )
    h, k = _CF_H, _CF_RANK
    res = arr.select(
        "a",
        "last_month",
        "n",
        F.expr(
            f"sort_array(transform(sequence(n - {h}, n - 1), "
            f"t -> abs(a[t] - a[t - 1])))"
        ).alias("r"),
    )
    return res.select(
        F.add_months("last_month", 1).alias("forecast_month"),
        F.element_at("a", F.col("n").cast("int")).alias("point_forecast"),
        (
            F.element_at("a", F.col("n").cast("int")) - F.element_at("r", k)
        ).alias("lower_bound"),
        (
            F.element_at("a", F.col("n").cast("int")) + F.element_at("r", k)
        ).alias("upper_bound"),
        F.element_at("r", k).alias("q_resid"),
        F.lit(h).cast("long").alias("n_calibration"),
    )


# ---------------------------------------------------------------------------
# Spend-quartile migration matrix
# ---------------------------------------------------------------------------

_MIG_SPLIT = "1996-01-01 00:00:00"


@query(
    "segment_migration_matrix",
    oracle=f"""
WITH p1 AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders WHERE o_orderdate < TIMESTAMP '{_MIG_SPLIT}' GROUP BY 1),
p2 AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIG_SPLIT}' GROUP BY 1),
s1 AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY spend DESC, o_custkey ASC) AS seg
  FROM p1),
s2 AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY spend DESC, o_custkey ASC) AS seg
  FROM p2),
j AS (
  SELECT COALESCE(s1.seg, 0) AS seg_before, COALESCE(s2.seg, 0) AS seg_after
  FROM s1 FULL OUTER JOIN s2 USING (o_custkey))
SELECT seg_before, seg_after, CAST(count(*) AS BIGINT) AS n_customers
FROM j GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-quartile migration matrix between the pre- and
    post-1996 halves of the order history: segment each period's active
    customers into spend quartiles (1 = top), code customers absent
    from a period as 0, and count every (before, after) transition —
    the retention/upsell movement report behind 'how many Q1 whales
    slipped to Q3?', and the companion view to `rfm_segments` (a
    snapshot) and `cohort_retention` (presence only — this tracks VALUE
    movement).

    Scale: each period's quartile assignment is the bucketed two-pass
    global rank + closed-form ntile (never a single-partition NTILE
    window — the oracle's window form is the spec); the two segment
    tables then meet in ONE full outer join on customer key, and the
    output collapses to the bounded 5x5 matrix.

    Determinism: spends are exact decimal sums; rank tiebreak is
    customer key; everything else is integer counting."""
    o = load(spark, sf_dir, "orders")

    def seg_table(pred, out_col):
        p = o.filter(pred).groupBy("o_custkey").agg(
            F.sum(dec2("o_totalprice")).alias("spend")
        )
        ranked = bucketed_global_row_number(
            p.localCheckpoint(eager=False),
            -F.col("spend").cast("double"),
            [F.desc("spend"), F.asc("o_custkey")],
            buckets=1024,
        )
        return ranked.withColumn(
            out_col, ntile_from_rank(F.col("rn"), F.col("n"), 4)
        ).select("o_custkey", out_col)

    s1 = seg_table(F.col("o_orderdate") < _MIG_SPLIT, "seg1")
    s2 = seg_table(F.col("o_orderdate") >= _MIG_SPLIT, "seg2")
    j = s1.join(s2, "o_custkey", "full_outer").select(
        F.coalesce("seg1", F.lit(0)).alias("seg_before"),
        F.coalesce("seg2", F.lit(0)).alias("seg_after"),
    )
    return (
        j.groupBy("seg_before", "seg_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("seg_before", "seg_after")
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (additive, period 12)
# ---------------------------------------------------------------------------


def _ma12_terms(idx: str, elem: str) -> str:
    """Centered 13-term MA-12 sum, written term-by-term so BOTH engines
    add in the identical left-to-right order. ``elem`` is a format
    template rendering the series value at offset expression {o}."""
    parts = []
    for off in range(-6, 7):
        o = f"{idx} - {-off}" if off < 0 else (f"{idx} + {off}" if off > 0 else idx)
        term = elem.format(o=o)
        if off in (-6, 6):
            term = f"0.5 * {term}"
        parts.append(term)
    return " + ".join(parts)


def _seasonal_oracle() -> str:
    trend = _ma12_terms("t", "a[{o}].rev")
    return f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS rev
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_sort(list({{'month': month, 'rev': rev}})) AS a,
         count(*) AS n
  FROM m),
wtr AS (
  SELECT a, n, list_transform(range(1, n + 1),
           t -> CASE WHEN t >= 7 AND t <= n - 6
                THEN ({trend}) / 12.0 END) AS tr
  FROM arr),
wsea AS (
  SELECT a, n, tr, list_transform(range(1, 13), mm ->
    list_reduce(
      list_prepend([0.0, 0.0], list_transform(range(1, n + 1), t ->
        CASE WHEN month(a[t].month) = mm AND tr[t] IS NOT NULL
             THEN [a[t].rev - tr[t], 1.0] ELSE [0.0, 0.0] END)),
      (acc, e) -> [acc[1] + e[1], acc[2] + e[2]])) AS sc
  FROM wtr),
wmean AS (
  SELECT a, n, tr,
         list_transform(sc, x -> x[1] / x[2]) AS sraw,
         list_reduce(
           list_prepend([0.0], list_transform(sc, x -> [x[1] / x[2]])),
           (acc, e) -> [acc[1] + e[1]])[1] / 12.0 AS smean
  FROM wsea),
rows_ AS (
  SELECT unnest(list_transform(range(1, n + 1), t -> {{
    'month': a[t].month,
    'revenue': a[t].rev,
    'trend': tr[t],
    'seasonal': sraw[month(a[t].month)] - smean,
    'resid': CASE WHEN tr[t] IS NOT NULL
             THEN (a[t].rev - tr[t])
                  - (sraw[month(a[t].month)] - smean) END}})) AS u
  FROM wmean)
SELECT u.month, u.revenue, u.trend, u.seasonal, u.resid FROM rows_
"""


@query("seasonal_decompose_monthly", oracle=_seasonal_oracle())
def seasonal_decompose_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue
    (the statsmodels `seasonal_decompose` / X-11 ancestor): trend =
    centered 13-term MA-12 (half-weight endpoints), seasonal = per
    calendar-month mean of the detrended series re-centered to sum to
    zero, residual = what neither explains. The decomposition answers
    the question `forecast_backtest_mae` raises when seasonal-naive
    wins: HOW seasonal is the series, month by month — and the residual
    is the input a control chart or CUSUM should monitor instead of the
    raw series.

    Determinism: the 13-term MA sum is written term-by-term so both
    engines add in identical left-to-right order (a builder emits the
    same expression for both); the per-calendar-month sums, the
    seasonal re-centering fold, and every subtraction are
    position-ordered; monthly revenues are exact-decimal renders.
    Trend/residual are NULL at the 6-month edges — honest, not imputed.

    Scale: the corpus collapses map-side to one exact row per month;
    the entire decomposition is in-row arithmetic over the bounded
    month array (~12n ops for the seasonal pass, n = months — calendar
    bounded at any corpus size)."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    arr = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "rev"))).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    trend = _ma12_terms("t", "element_at(a, CAST({o} AS INT)).rev")
    wtr = arr.select(
        "a",
        "n",
        F.expr(
            f"transform(sequence(1, n), t -> "
            f"CASE WHEN t >= 7 AND t <= n - 6 "
            f"THEN ({trend}) / 12.0 END)"
        ).alias("tr"),
    )
    wsea = wtr.select(
        "a",
        "n",
        "tr",
        F.expr(
            """
transform(sequence(1, 12), mm ->
  aggregate(sequence(1, n),
    named_struct('s', CAST(0.0 AS DOUBLE), 'c', CAST(0.0 AS DOUBLE)),
    (acc, t) -> CASE
      WHEN month(element_at(a, CAST(t AS INT)).month) = mm
           AND element_at(tr, CAST(t AS INT)) IS NOT NULL
      THEN named_struct('s', acc.s + (element_at(a, CAST(t AS INT)).rev
                                      - element_at(tr, CAST(t AS INT))),
                        'c', acc.c + 1.0)
      ELSE acc END))
""".strip()
        ).alias("sc"),
    )
    wmean = wsea.select(
        "a",
        "n",
        "tr",
        F.expr("transform(sc, x -> x.s / x.c)").alias("sraw"),
        F.expr(
            "aggregate(sc, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x.s / x.c) / 12.0"
        ).alias("smean"),
    )
    rows = wmean.select(
        F.explode(
            F.expr(
                """
transform(sequence(1, n), t -> named_struct(
  'month', element_at(a, CAST(t AS INT)).month,
  'revenue', element_at(a, CAST(t AS INT)).rev,
  'trend', element_at(tr, CAST(t AS INT)),
  'seasonal', element_at(sraw, month(element_at(a, CAST(t AS INT)).month)) - smean,
  'resid', CASE WHEN element_at(tr, CAST(t AS INT)) IS NOT NULL
           THEN (element_at(a, CAST(t AS INT)).rev - element_at(tr, CAST(t AS INT)))
                - (element_at(sraw, month(element_at(a, CAST(t AS INT)).month)) - smean)
           END))
""".strip()
            )
        ).alias("u")
    )
    return rows.select(
        F.col("u.month").alias("month"),
        F.col("u.revenue").alias("revenue"),
        F.col("u.trend").alias("trend"),
        F.col("u.seasonal").alias("seasonal"),
        F.col("u.resid").alias("resid"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the revenue direction sequence
# ---------------------------------------------------------------------------


@query(
    "revenue_runs_test",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS rev
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({'month': month, 'rev': rev})),
                        x -> x.rev) AS a, count(*) AS n
  FROM m),
signs AS (
  SELECT n, list_transform(range(2, n + 1),
           t -> CASE WHEN a[t] > a[t - 1] THEN 1 ELSE 0 END) AS s
  FROM arr),
cnt AS (
  SELECT n,
         CAST(len(s) AS BIGINT) AS n_moves,
         CAST(list_sum(s) AS BIGINT) AS n_up,
         CAST(len(s) - list_sum(s) AS BIGINT) AS n_down,
         CAST(1 + list_sum(list_transform(range(2, len(s) + 1),
              t -> CASE WHEN s[t] <> s[t - 1] THEN 1 ELSE 0 END))
              AS BIGINT) AS n_runs
  FROM signs),
z AS (
  SELECT n_moves, n_up, n_down, n_runs,
         1.0 + (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE))
               / CAST(n_moves AS DOUBLE) AS mu,
         ((2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE))
            * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               - CAST(n_moves AS DOUBLE)))
           / (CAST(n_moves AS DOUBLE) * CAST(n_moves AS DOUBLE)
              * (CAST(n_moves AS DOUBLE) - 1.0)) AS var
  FROM cnt)
SELECT n_moves, n_up, n_down, n_runs,
       (CAST(n_runs AS DOUBLE) - mu) / sqrt(var) AS z_score
FROM z
""",
)
def revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the monthly revenue DIRECTION
    sequence (up/down moves): too few runs = trending/sticky, too many
    = oscillating, |z| small = direction looks random — the
    model-free randomness check that says whether the forecasting
    family (`exp_smoothing_revenue`, `holt_linear_forecast`) has any
    structure to exploit at all, before fitting anything.

    Determinism: directions and run boundaries are exact integer
    comparisons of exact-2dp revenue renders; the normal-approximation
    z is one fixed-order closed form from exact counts. Ties
    (equal consecutive months) count as 'down' by the documented
    convention — exact either way.

    Scale: corpus → one row per month map-side; the direction sequence
    and run counting are in-row folds over the bounded month array."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    arr = m.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(month, rev))), x -> x.rev)"
        ).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    signs = arr.select(
        "n",
        F.expr(
            "transform(sequence(2, CAST(n AS INT)), "
            "t -> CASE WHEN element_at(a, t) > element_at(a, t - 1) "
            "THEN 1 ELSE 0 END)"
        ).alias("s"),
    )
    cnt = signs.select(
        F.size("s").cast("long").alias("n_moves"),
        F.expr("aggregate(s, 0L, (acc, x) -> acc + x)").cast("long").alias("n_up"),
        (
            F.size("s") - F.expr("aggregate(s, 0L, (acc, x) -> acc + x)")
        )
        .cast("long")
        .alias("n_down"),
        (
            1
            + F.expr(
                "aggregate(transform(sequence(2, size(s)), "
                "t -> CASE WHEN element_at(s, t) <> element_at(s, t - 1) "
                "THEN 1 ELSE 0 END), 0L, (acc, x) -> acc + x)"
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    nm = F.col("n_moves").cast("double")
    nu, nd = F.col("n_up").cast("double"), F.col("n_down").cast("double")
    mu = F.lit(1.0) + (F.lit(2.0) * nu * nd) / nm
    var = ((F.lit(2.0) * nu * nd) * (F.lit(2.0) * nu * nd - nm)) / (
        nm * nm * (nm - F.lit(1.0))
    )
    return cnt.select(
        "n_moves",
        "n_up",
        "n_down",
        "n_runs",
        ((F.col("n_runs").cast("double") - mu) / F.sqrt(var)).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# ABC (Pareto 80/15/5) inventory classification
# ---------------------------------------------------------------------------


@query(
    "abc_part_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS t FROM rev),
ranked AS (
  SELECT l_partkey, cents,
         sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum
  FROM rev),
classed AS (
  SELECT l_partkey, cents,
         CASE WHEN CAST(cum AS HUGEINT) * 100 <= t * 80 THEN 'A'
              WHEN CAST(cum AS HUGEINT) * 100 <= t * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked, tot)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(round(CAST(sum(cents) AS DECIMAL(38,0)) / 100, 2) AS DOUBLE)
         AS class_revenue,
       CAST(sum(cents) AS DOUBLE) / CAST(t AS DOUBLE) AS revenue_share
FROM classed, tot GROUP BY abc_class, t ORDER BY abc_class
""",
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank parts by
    lifetime revenue, class A = the head covering the first 80% of
    cumulative revenue, B = next 15%, C = the tail — the inventory-
    policy segmentation (count A parts daily, C parts yearly) and the
    concentration view `hhi_revenue_concentration` summarizes to one
    number. Class boundaries are exact integer comparisons
    (cum·100 ≤ total·k), never a float share.

    Scale: the cumulative rank uses the bucketed two-pass device —
    bucket the per-part revenue, per-bucket windows plus bounded bucket
    offsets reconstruct the exact global running sum (the oracle's
    global window is the spec, not the plan); output collapses to 3
    classes.

    Determinism: revenue is exact integer cents; the rank tiebreak is
    part key; shares are exact-input divisions (HUGEINT/DECIMAL(38,0)
    headroom on the cum·100 products)."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(dec2("l_extendedprice")) * 100).cast("long").alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("decimal(38,0)").alias("t"))
    from ecommerce_lakehouse_spark.operators.scale import fixed_width_bucket

    stats = rev.agg(
        F.min(-F.col("cents")).cast("double").alias("vmin"),
        F.max(-F.col("cents")).cast("double").alias("vmax"),
    )
    # bucket on DESC revenue (negated) so bucket order == rank order
    rb = rev.join(F.broadcast(stats)).withColumn(
        "b",
        fixed_width_bucket(
            (-F.col("cents")).cast("double"), F.col("vmin"), F.col("vmax"), 1024
        ),
    )
    bsum = rb.groupBy("b").agg(F.sum("cents").cast("decimal(38,0)").alias("bs"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    boff = bsum.select(
        "b", F.coalesce(F.sum("bs").over(wb), F.lit(0).cast("decimal(38,0)")).alias("boff")
    )
    ww = Window.partitionBy("b").orderBy(F.desc("cents"), F.asc("l_partkey"))
    cum = (
        rb.join(F.broadcast(boff), "b")
        .withColumn("wcum", F.sum("cents").over(ww).cast("decimal(38,0)"))
        .withColumn("cum", (F.col("boff") + F.col("wcum")).cast("decimal(38,0)"))
    )
    classed = cum.join(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        "t",
        F.when(F.col("cum") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class", "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("cents").cast("decimal(38,0)") / 100, 2)
            .cast("double")
            .alias("class_revenue"),
            (
                F.sum("cents").cast("double") / F.col("t").cast("double")
            ).alias("revenue_share"),
        )
        .select("abc_class", "n_parts", "class_revenue", "revenue_share")
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------


@query(
    "mann_kendall_trend",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
pairs AS (
  SELECT CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
  FROM m a JOIN m b ON b.month > a.month),
s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat FROM pairs),
ties AS (
  SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS BIGINT)
           AS tie_term
  FROM (SELECT count(*) AS t FROM m GROUP BY cents)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
z AS (
  SELECT s_stat, n,
         (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
            * CAST(2 * n + 5 AS DOUBLE) - CAST(tie_term AS DOUBLE)) / 18.0
           AS var_s
  FROM s, ties, nn)
SELECT n AS n_months, s_stat,
       CASE WHEN s_stat > 0
              THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
            WHEN s_stat < 0
              THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
            ELSE 0.0 END AS z_score
FROM z
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = Σ sign(y_j −
    y_i) over all ordered month pairs, with the tie-corrected variance
    and continuity-corrected z — the SIGNIFICANCE companion to
    `revenue_theil_sen` (which estimates the slope this test decides is
    real): the standard pairing in environmental/ops monitoring because
    neither assumes a distribution.

    Determinism: sign comparisons run on exact integer CENTS (never the
    double render), so S and the tie term are exact integers; the z
    closed form is fixed-order double arithmetic on exact totals.

    Scale: the corpus collapses map-side to one integer row per month;
    the pair expansion is months² — calendar-bounded at any corpus size
    — via a broadcast self-join (the revenue_theil_sen shape)."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg((F.sum(dec2("o_totalprice")) * 100).cast("long").alias("cents"))
    a = m.select(F.col("month").alias("am"), F.col("cents").alias("ac"))
    b = m.select(F.col("month").alias("bm"), F.col("cents").alias("bc"))
    pairs = a.join(F.broadcast(b), F.col("bm") > F.col("am")).select(
        F.when(F.col("bc") > F.col("ac"), 1)
        .when(F.col("bc") < F.col("ac"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(F.sum("sgn").cast("long").alias("s_stat"))
    ties = (
        m.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nn = m.agg(F.count(F.lit(1)).cast("long").alias("n"))
    z = s.join(F.broadcast(ties)).join(F.broadcast(nn))
    nD = F.col("n").cast("double")
    var_s = (
        nD * (F.col("n") - 1).cast("double") * (2 * F.col("n") + 5).cast("double")
        - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    sD = F.col("s_stat").cast("double")
    return z.select(
        F.col("n").alias("n_months"),
        "s_stat",
        F.when(F.col("s_stat") > 0, (sD - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (sD + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Syntetos-Boylan demand-pattern classification
# ---------------------------------------------------------------------------


@query(
    "part_demand_intermittency",
    oracle="""
WITH mm AS (
  SELECT CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
           AS big_m
  FROM orders),
pm AS (
  SELECT l.l_partkey,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         CAST(sum(l.l_quantity) AS BIGINT) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
per AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS a,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(CAST(q AS HUGEINT) * q) AS BIGINT) AS sq2
  FROM pm GROUP BY 1),
classed AS (
  SELECT l_partkey, a, sq,
         CASE
           WHEN big_m * 100 <= a * 132 THEN
             CASE WHEN (CAST(a AS HUGEINT) * sq2
                          - CAST(sq AS HUGEINT) * sq) * 100
                       <= CAST(sq AS HUGEINT) * sq * 49
                  THEN 'smooth' ELSE 'erratic' END
           ELSE
             CASE WHEN (CAST(a AS HUGEINT) * sq2
                          - CAST(sq AS HUGEINT) * sq) * 100
                       <= CAST(sq AS HUGEINT) * sq * 49
                  THEN 'intermittent' ELSE 'lumpy' END
         END AS demand_class
  FROM per, mm)
SELECT demand_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(a) AS BIGINT) AS total_active_months,
       CAST(sum(sq) AS BIGINT) AS total_demand
FROM classed GROUP BY 1 ORDER BY 1
""",
)
def part_demand_intermittency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand-pattern classification (2005) of every
    part's monthly demand series: ADI (average demand interval = corpus
    months / active months) against 1.32 and CV² of nonzero demand
    sizes against 0.49 split the catalog into smooth / erratic /
    intermittent / lumpy — the segmentation that decides WHICH
    forecaster each part gets (SES for smooth, Croston-family for
    intermittent/lumpy; the single-series tools
    `exp_smoothing_revenue`/`holt_linear_forecast` assume 'smooth').

    Determinism is total: both thresholds evaluate as exact integer
    inequalities — ADI ≤ 1.32 ⇔ M·100 ≤ a·132, and CV² ≤ 0.49 ⇔
    (a·Σq² − (Σq)²)·100 ≤ 49·(Σq)² (quantities are integers) — so no
    float exists anywhere in the query.

    Scale: one (part, month) collapse with map-side combine, one
    per-part rollup of three integer moments, a broadcast 1-row month
    count; output is 4 classes."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    mm = o.agg(
        F.countDistinct(F.date_trunc("month", "o_orderdate"))
        .cast("long")
        .alias("big_m")
    )
    pm = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "l_partkey",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    big = "decimal(38,0)"
    per = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("a"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q").cast(big) * F.col("q")).cast("long").alias("sq2"),
    )
    j = per.join(F.broadcast(mm))
    cv_num = (
        F.col("a").cast(big) * F.col("sq2") - F.col("sq").cast(big) * F.col("sq")
    ) * 100
    cv_den = F.col("sq").cast(big) * F.col("sq") * 49
    smooth_cv = cv_num <= cv_den
    low_adi = F.col("big_m") * 100 <= F.col("a") * 132
    classed = j.select(
        "a",
        "sq",
        F.when(low_adi & smooth_cv, "smooth")
        .when(low_adi & ~smooth_cv, "erratic")
        .when(~low_adi & smooth_cv, "intermittent")
        .otherwise("lumpy")
        .alias("demand_class"),
    )
    return (
        classed.groupBy("demand_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("a").cast("long").alias("total_active_months"),
            F.sum("sq").cast("long").alias("total_demand"),
        )
        .orderBy("demand_class")
    )


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast
# ---------------------------------------------------------------------------

_CROSTON_ALPHA = 0.2


@query(
    "croston_demand_forecast",
    oracle=f"""
WITH mn AS (
  SELECT CAST(min(date_trunc('month', o_orderdate)) AS DATE) AS m0 FROM orders),
pm AS (
  SELECT l.l_partkey,
         CAST(date_diff('month', mn.m0,
                        CAST(date_trunc('month', o.o_orderdate) AS DATE)) + 1
              AS BIGINT) AS idx,
         CAST(sum(l.l_quantity) AS BIGINT) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, mn
  GROUP BY 1, 2),
arr AS (
  SELECT l_partkey,
         list_transform(list_sort(list({{'idx': idx, 'q': q}})),
            e -> {{'z': CAST(e.q AS DOUBLE), 'p': CAST(e.idx AS DOUBLE),
                   'prev': e.idx}}) AS a
  FROM pm GROUP BY 1),
folded AS (
  SELECT l_partkey, len(a) AS n_demands,
         list_reduce(a, (acc, e) -> {{
            'z': acc.z + {_CROSTON_ALPHA} * (e.z - acc.z),
            'p': acc.p + {_CROSTON_ALPHA}
                 * (CAST(e.prev - acc.prev AS DOUBLE) - acc.p),
            'prev': e.prev}}) AS s
  FROM arr)
SELECT l_partkey, CAST(n_demands AS BIGINT) AS n_demands,
       round(s.z, 9) AS z_level,
       round(s.p, 9) AS p_interval,
       round(s.z / s.p, 9) AS croston_forecast,
       round(0.9 * s.z / s.p, 9) AS sba_forecast
FROM folded
""",
)
def croston_demand_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) per part — THE forecaster for the
    intermittent/lumpy classes part_demand_intermittency identifies
    (SES on the zero-heavy series biases toward zero; Croston smooths
    demand SIZE and demand INTERVAL separately and forecasts their
    ratio), plus the Syntetos-Boylan bias correction (SBA, x(1 - a/2) =
    0.9 here) — together the standard spare-parts forecasting pair.

    Per part: monthly demands collapse to sparse (month-index, qty)
    entries; z_1 = q_1, p_1 = idx_1 (position of first demand), then at
    each subsequent demand point z += a(q - z), p += a(gap - p) with
    gap = idx - prev_idx. Zero months never materialize — Croston
    updates only at demand points, so the sparse form IS the algorithm.

    Determinism (the exp_smoothing_revenue discipline): the recursion
    runs as ONE fold over the month-sorted entry array inside each
    part's row — both engines execute the identical IEEE multiply-add
    sequence on exact-integer inputs (alpha and the 0.9 SBA factor are
    shared literals), outputs rounded once at 9dp.

    Scale: one (part, month) map-side-combined collapse, one per-part
    collect of a months-bounded array (<= corpus months, ~80), fold
    inside the row. No window, no per-row Python, no driver loop."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    mn = o.agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("m0")
    )
    pm = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(mn))
        .groupBy(
            "l_partkey",
            (
                F.months_between(
                    F.to_date(F.date_trunc("month", "o_orderdate")), F.col("m0")
                )
                + 1
            )
            .cast("long")
            .alias("idx"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    a = _CROSTON_ALPHA
    arr = pm.groupBy("l_partkey").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(idx, q))),"
            " e -> struct(CAST(e.q AS DOUBLE) AS z,"
            " CAST(e.idx AS DOUBLE) AS p, e.idx AS prev))"
        ).alias("a")
    )
    folded = arr.select(
        "l_partkey",
        F.size("a").cast("long").alias("n_demands"),
        F.expr(
            f"""
aggregate(
  slice(a, 2, size(a) - 1),
  a[0],
  (acc, e) -> struct(
    acc.z + {a} * (e.z - acc.z) AS z,
    acc.p + {a} * (CAST(e.prev - acc.prev AS DOUBLE) - acc.p) AS p,
    e.prev AS prev))
""".strip()
        ).alias("s"),
    )
    return folded.select(
        "l_partkey",
        "n_demands",
        F.round(F.col("s.z"), 9).alias("z_level"),
        F.round(F.col("s.p"), 9).alias("p_interval"),
        F.round(F.col("s.z") / F.col("s.p"), 9).alias("croston_forecast"),
        F.round(F.lit(0.9) * F.col("s.z") / F.col("s.p"), 9).alias(
            "sba_forecast"
        ),
    )


# ---------------------------------------------------------------------------
# rolling-MAD spike detection on daily revenue
# ---------------------------------------------------------------------------


@query(
    "daily_revenue_spike_flags",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) * 100
              AS BIGINT) AS cents
  FROM orders GROUP BY 1),
w AS (
  SELECT d, cents,
         list_sort(list(cents) OVER (ORDER BY d
             ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) AS base
  FROM daily),
m AS (
  SELECT d, cents, len(base) AS wn,
         base[(len(base) + 1) // 2] + base[len(base) // 2 + 1] AS med2,
         list_sort(list_transform(base,
             x -> abs(2 * x - (base[(len(base) + 1) // 2]
                               + base[len(base) // 2 + 1])))) AS devs
  FROM w WHERE len(base) >= 7)
SELECT d, CAST(wn AS BIGINT) AS window_n,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(med2 AS DOUBLE) / 200.0 AS baseline_median,
       CAST(devs[(wn + 1) // 2] + devs[wn // 2 + 1] AS DOUBLE) / 400.0
         AS baseline_mad,
       4 * abs(2 * cents - med2)
         > 3 * (devs[(wn + 1) // 2] + devs[wn // 2 + 1]) AS is_spike
FROM m
""",
)
def daily_revenue_spike_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-MAD spike detection on daily revenue — the LOCAL-anomaly
    companion to revenue_cusum_changepoint's global changepoint: each
    day is judged against the robust location/scale of its own trailing
    14-day window (median + MAD — 50% breakdown, so yesterday's spike
    cannot poison today's baseline the way a rolling mean/stddev
    would), flagged when |x − med| > 3·MAD.

    Exactness is TOTAL — no float exists in the decision: daily revenue
    is exact integer cents; with med2 = twice the window median and
    mad2 = twice the median absolute twice-deviation (= 4·MAD), the
    rule |x − med| > 3·MAD becomes the integer inequality
    4·|2x − med2| > 3·mad2. The reported median/MAD columns are dyadic
    rationals (/200, /400) rendered identically by both engines.

    Scale: the corpus collapses map-side to the DATE-DOMAIN-bounded
    daily frame (~2.5k rows at any volume); the rolling window and the
    in-row array medians run over that aggregated frame (the
    plan-guard-allowed class); window width is a 14-element array per
    row."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            * 100
        )
        .cast("long")
        .alias("cents")
    )
    return spike_flags_from_daily(daily)
