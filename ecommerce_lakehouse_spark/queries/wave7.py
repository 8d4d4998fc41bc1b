"""Round-7 wave: spectral / sequential-monitoring / causal-adjustment /
link-prediction analytics plus retrieval and embedding-geometry audits.

- ``common_neighbors_jaccard``: neighborhood-Jaccard link prediction on
  the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets) — the set-overlap member of the
  link-prediction shelf next to Adamic-Adar's weighted wedges;
- ``revenue_periodogram``: discrete-Fourier power spectrum of monthly
  revenue at integer frequencies — the frequency-domain member of the
  serial-structure shelf (ACF sees fixed lags, wavelets see dyadic
  timescales, the periodogram sees PERIODS);
- ``pacf_durbin_levinson``: partial autocorrelation at lags 1..6 by the
  Durbin-Levinson recursion — the AR-order diagnostic (where the PACF
  cuts off) that ACF alone cannot answer;
- ``page_hinkley_drift``: the Page-Hinkley sequential mean-shift
  statistic over daily revenue — the ONLINE-shaped drift detector next
  to the retrospective CUSUM changepoint;
- ``propensity_strata_ate``: stratified average-treatment-effect with
  order-count strata — the confounding-adjustment member of the causal
  shelf (DiD removes time, CUPED removes variance, QTE reads the
  distribution; stratification removes an observed confounder);
- ``mmr_diversified_topk``: Maximal Marginal Relevance re-ranking over
  a bounded cosine shortlist — the diversifying member of the
  retrieval shelf;
- ``embedding_pca_power``: top covariance eigenpair by power iteration
  — the anisotropy / representation-collapse audit;
- ``dedup_mixture_shift``: per-source token share before vs after
  exact dedup — the mixture drift dedup silently applies;
- ``holt_winters_seasonal``: additive seasonal smoothing + forecast;
- ``heaps_law_fit``: vocabulary-growth checkpoints + Heaps exponent;
- ``k_anonymity_audit``: quasi-identifier equivalence-class audit;
- ``clustering_coefficient_profile``: degree-resolved local clustering
  + global transitivity on the co-purchase graph;
- ``discount_uplift_profile``: discount-level response profile with a
  null-instrument OLS slope;
- ``safety_stock_plan``: newsvendor P95 reorder points from
  intermittent weekly demand (zero weeks by rank arithmetic);
- ``semantic_contamination_audit``: train/test max-cosine leakage
  histogram — the paraphrase-level complement of the n-gram audit;
- ``prefix_share_profile``: shared-prefix KV-cache shareability;
- ``duplication_spectrum``: exact-dup multiplicity spectrum (dedup ROI).

Reference parity: none of these exist in the reference (src/processing
is business-key ETL); they extend the engine's analytics families.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.lsh import EMBED_DIM
from ecommerce_lakehouse_spark.operators.text import ALPHA_TOKS_S
from ecommerce_lakehouse_spark.operators.timeseries import (
    HW_ALPHA,
    HW_BETA,
    HW_GAMMA,
    HW_H,
    PH_LAMBDA_SIGMA,
    hw_forecast_from_monthly,
    mixture_shift_summary,
    ph_summary_from_daily,
)
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.queries.graph_ml import (
    _COPURCHASE_EDGES,
    _support_graph,
)
from ecommerce_lakehouse_spark.tables import load

# ---------------------------------------------------------------------------
# neighborhood-Jaccard link prediction
# ---------------------------------------------------------------------------

_CJ_TOP = 20


@query(
    "common_neighbors_jaccard",
    oracle=f"""
WITH {_COPURCHASE_EDGES},
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
wedge AS (
  SELECT a1.nbr AS u, a2.nbr AS v
  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.nbr < a2.nbr),
cn AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
  FROM wedge GROUP BY 1, 2),
cand AS (
  SELECT cn.* FROM cn ANTI JOIN e ON cn.u = e.s AND cn.v = e.d)
SELECT u AS part_a, v AS part_b, n_common,
       CAST(n_common AS DOUBLE)
         / (du.dg + dv.dg - n_common) AS jaccard
FROM cand JOIN deg du ON du.z = cand.u JOIN deg dv ON dv.z = cand.v
ORDER BY jaccard DESC, part_a, part_b LIMIT {_CJ_TOP}
""",
)
def common_neighbors_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-of-neighborhoods link prediction (Liben-Nowell & Kleinberg
    2003) over the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets): for every NON-edge
    (u, v) sharing at least one neighbor, |N(u) ∩ N(v)| / |N(u) ∪ N(v)|,
    top-{k}. Adamic-Adar weights rare common neighbors up; Jaccard
    normalizes by both degree masses — the two standard local link
    predictors, now both on the shelf.

    Exactness: intersection and degree counts are exact integers; the
    Jaccard is ONE division of exact integers (IEEE identical both
    engines); ordering ties break on the part ids.

    Scale: the wedge fan-out is bounded by the relative-support cut exactly
    as adamic_adar_links — and (r10 opt, guide §2.4) the wedges are
    generated IN-ROW from each node's sorted neighbor list (posexplode +
    tail-slice explode, the chained-Generate form measured 8x faster
    than the lambda tree on frequent_triple_itemsets) instead of the
    adjacency self-join, removing the join's two shuffles; candidates
    collapse by (u, v) before the top-k TakeOrdered.""".format(k=_CJ_TOP)
    from ecommerce_lakehouse_spark.operators.scale import narrow_barrier

    e, adj = _support_graph(spark, sf_dir)
    # nb feeds the wedge expansion AND both degree sides: lazy barrier
    # computes it once per action; the e anti-join and the two degree
    # joins broadcast (support-/node-domain-bounded; RDD-scan inputs
    # carry no stats, so the planner picked SortMergeJoins otherwise)
    nb = (
        adj.groupBy("z")
        .agg(F.sort_array(F.collect_list("nbr")).alias("nbrs"))
        .transform(lambda d: narrow_barrier(d, eager=False))
    )
    deg = nb.select("z", F.size("nbrs").cast("long").alias("dg"))
    p1 = nb.filter(F.size("nbrs") >= 2).select(
        "nbrs", F.posexplode("nbrs").alias("i", "u")
    )
    p2 = p1.select(
        "u", F.explode(F.expr("slice(nbrs, i + 2, size(nbrs))")).alias("v")
    )
    cn = p2.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    cand = cn.join(
        F.broadcast(e), (cn["u"] == e["s"]) & (cn["v"] == e["d"]), "left_anti"
    )
    du = deg.select(F.col("z").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("dg").alias("dv"))
    return (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(_CJ_TOP)
    )


# ---------------------------------------------------------------------------
# periodogram of monthly revenue
# ---------------------------------------------------------------------------

_PG_MAXK = 12
_PI = "3.141592653589793"

_PG_MONTHLY_SQL = """
m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({'month': month, 'rev': revenue})),
                        x -> x.rev) AS a
  FROM m),
base AS (
  SELECT a, len(a) AS n,
         list_reduce(a, (s, x) -> s + x) / len(a) AS mu
  FROM arr),
ctr AS (
  SELECT n, list_transform(a, x -> x - mu) AS c,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(a, x -> (x - mu) * (x - mu))),
           (s, x) -> s + x) AS denom
  FROM base)
""".strip()


def _pg_row_sql(k: int) -> str:
    return f"""
SELECT {k} AS k, n,
       CAST(n AS DOUBLE) / {k} AS period_months,
       round(2.0 * (
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, n + 1),
             t -> c[t] * cos(2 * {_PI} * {k} * (t - 1) / n))),
           (s, x) -> s + x)
         * list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, n + 1),
             t -> c[t] * cos(2 * {_PI} * {k} * (t - 1) / n))),
           (s, x) -> s + x)
         + list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, n + 1),
             t -> c[t] * sin(2 * {_PI} * {k} * (t - 1) / n))),
           (s, x) -> s + x)
         * list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, n + 1),
             t -> c[t] * sin(2 * {_PI} * {k} * (t - 1) / n))),
           (s, x) -> s + x)
       ) / (n * denom), 9) AS power_share
FROM ctr"""


@query(
    "revenue_periodogram",
    oracle="WITH "
    + _PG_MONTHLY_SQL
    + "\nUNION ALL".join(_pg_row_sql(k) for k in range(1, _PG_MAXK + 1)),
)
def revenue_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of monthly revenue at integer
    frequencies k=1..{mk} (Schuster 1898): for the mean-centered series
    c_t, power_k = a_k^2 + b_k^2 with a_k = sum c_t cos(2*pi*k*t/n),
    b_k the sine sum, reported as power_share = 2*power_k / (n * SS) —
    the fraction of series variance at period n/k months (shares over
    all k <= n/2 sum to ~1, the Parseval identity). The
    FREQUENCY-domain member of the serial-structure shelf: the ACF sees
    fixed lags, the Haar ladder sees dyadic timescales, the
    periodogram names the PERIOD (k = n/12 is "annual seasonality").

    Determinism: monthly revenue is exact (DECIMAL sum rounded in the
    decimal domain, cast double last); every trig sum is an ORDERED
    fold over the month-sorted array with the same literal pi, so both
    engines execute the identical multiply-add sequence; cos/sin are
    the only non-correctly-rounded ops, and power_share is rounded ONCE
    to 9 decimals — a 1e-15-relative libm disagreement cannot move a
    1e-9 rounding (the log2-in-nanos discipline, hurst_rs_exponent).

    Scale: corpus collapses map-side to one row per month; the whole
    spectrum is one in-row pass over the bounded array ({mk} folds of
    n terms).""".format(mk=_PG_MAXK)
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
            "transform(sort_array(collect_list(struct(month, revenue))),"
            " x -> x.revenue)"
        ).alias("a")
    )
    ctr = arr.selectExpr(
        "size(a) AS n",
        "aggregate(a, CAST(0 AS DOUBLE), (s, x) -> s + x) / size(a) AS mu",
        "a",
    ).selectExpr(
        "n",
        "transform(a, x -> x - mu) AS c",
        "aggregate(transform(a, x -> (x - mu) * (x - mu)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x) AS denom",
    )
    out = None
    for k in range(1, _PG_MAXK + 1):
        row = ctr.selectExpr(
            f"{k} AS k",
            "n",
            f"CAST(n AS DOUBLE) / {k} AS period_months",
            f"""round(2.0 * (
  aggregate(transform(sequence(1, n),
    t -> element_at(c, t) * cos(2 * {_PI} * {k} * (t - 1) / n)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)
  * aggregate(transform(sequence(1, n),
    t -> element_at(c, t) * cos(2 * {_PI} * {k} * (t - 1) / n)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)
  + aggregate(transform(sequence(1, n),
    t -> element_at(c, t) * sin(2 * {_PI} * {k} * (t - 1) / n)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)
  * aggregate(transform(sequence(1, n),
    t -> element_at(c, t) * sin(2 * {_PI} * {k} * (t - 1) / n)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)
) / (n * denom), 9) AS power_share""",
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("long").alias("n"),
        "period_months",
        "power_share",
    )


# ---------------------------------------------------------------------------
# PACF by Durbin-Levinson
# ---------------------------------------------------------------------------

_PACF_LAGS = 6


def _pacf_pkk_sql(k: int, phi: str) -> str:
    """Inlined reflection-coefficient expression for level k over the
    previous level's coefficient list column ``phi``."""
    num = (
        f"(r[{k}] - list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        f" list_transform(range(1, {k}), j -> {phi}[j] * r[{k} - j])),"
        f" (s, x) -> s + x))"
    )
    den = (
        f"(1 - list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        f" list_transform(range(1, {k}), j -> {phi}[j] * r[j])),"
        f" (s, x) -> s + x))"
    )
    return f"({num} / {den})"


def _pacf_oracle() -> str:
    parts = [
        """m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({'month': month, 'rev': revenue})),
                        x -> x.rev) AS a
  FROM m),
base AS (
  SELECT a, len(a) AS n,
         list_reduce(a, (s, x) -> s + x) / len(a) AS mu
  FROM arr),
ac AS (
  SELECT n,
         list_transform(range(1, """
        + str(_PACF_LAGS)
        + """ + 1), k ->
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, n - k + 1),
               i -> (a[i] - mu) * (a[i + k] - mu))),
             (s, x) -> s + x)
           / list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(a, x -> (x - mu) * (x - mu))),
               (s, x) -> s + x)) AS r
  FROM base),
dl1 AS MATERIALIZED (SELECT n, r, [r[1]] AS phi FROM ac)"""
    ]
    # unrolled Durbin-Levinson levels: each level's pkk is inlined
    # twice over the MATERIALIZED previous level (no fold-with-state —
    # DuckDB lambdas cannot contain subqueries)
    for k in range(2, _PACF_LAGS + 1):
        pkk = _pacf_pkk_sql(k, "phi")
        parts.append(
            f"""dl{k} AS MATERIALIZED (
  SELECT n, r,
         list_append(
           list_transform(range(1, {k}), j -> phi[j] - {pkk} * phi[{k} - j]),
           {pkk}) AS phi
  FROM dl{k - 1})"""
        )
    rows = ["SELECT 1 AS lag, n, round(r[1], 9) AS pacf FROM ac"]
    for k in range(2, _PACF_LAGS + 1):
        rows.append(f"SELECT {k}, n, round(phi[{k}], 9) FROM dl{k}")
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(lag AS INT) AS lag, n, pacf FROM ("
        + "\nUNION ALL ".join(rows)
        + ") ORDER BY lag"
    )


@query("pacf_durbin_levinson", oracle=_pacf_oracle())
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of monthly revenue at lags 1..{L} by the
    Durbin-Levinson recursion (Durbin 1960): phi_11 = r1, then for each
    k the reflection coefficient phi_kk = (r_k - sum phi_(k-1),j *
    r_(k-j)) / (1 - sum phi_(k-1),j * r_j) with the inner coefficients
    updated as phi_kj = phi_(k-1),j - phi_kk * phi_(k-1),(k-j). The
    PACF is where AR ORDER is read off (it cuts off after the true
    order, while the ACF tails) — the diagnostic that justifies
    ar2_yule_walker_forecast's choice of 2.

    Determinism: the ACF vector r is the same ordered-fold construction
    as revenue_autocorrelation; the recursion is a fixed-order in-row
    fold with ascending-j inner sums — both engines execute the
    identical IEEE sequence; pacf is rounded ONCE to 9 decimals.

    Scale: one row per month map-side, then one in-row O(L^2) fold —
    noise next to the scan.""".format(L=_PACF_LAGS)
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
            "transform(sort_array(collect_list(struct(month, revenue))),"
            " x -> x.revenue)"
        ).alias("a")
    )
    ac = arr.selectExpr(
        "size(a) AS n",
        "aggregate(a, CAST(0 AS DOUBLE), (s, x) -> s + x) / size(a) AS mu",
        "a",
    ).selectExpr(
        "n",
        f"""transform(sequence(1, {_PACF_LAGS}), k ->
  aggregate(transform(sequence(1, n - k),
    i -> (element_at(a, i) - mu) * (element_at(a, i + k) - mu)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)
  / aggregate(transform(a, x -> (x - mu) * (x - mu)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)) AS r""",
    )
    dl_expr = """
aggregate(sequence(2, {lag}), array(element_at(r, 1)),
  (phi, k) -> concat(
    transform(sequence(1, k - 1), j ->
      element_at(phi, j)
      - ((element_at(r, k)
          - aggregate(transform(sequence(1, k - 1),
              j2 -> element_at(phi, j2) * element_at(r, k - j2)),
              CAST(0 AS DOUBLE), (s, x) -> s + x))
         / (1 - aggregate(transform(sequence(1, k - 1),
              j2 -> element_at(phi, j2) * element_at(r, j2)),
              CAST(0 AS DOUBLE), (s, x) -> s + x)))
        * element_at(phi, k - j)),
    array((element_at(r, k)
          - aggregate(transform(sequence(1, k - 1),
              j2 -> element_at(phi, j2) * element_at(r, k - j2)),
              CAST(0 AS DOUBLE), (s, x) -> s + x))
         / (1 - aggregate(transform(sequence(1, k - 1),
              j2 -> element_at(phi, j2) * element_at(r, j2)),
              CAST(0 AS DOUBLE), (s, x) -> s + x)))))
""".strip()
    out = None
    for lag in range(1, _PACF_LAGS + 1):
        if lag == 1:
            pacf = "round(element_at(r, 1), 9)"
        else:
            pacf = f"round(element_at({dl_expr.format(lag=lag)}, {lag}), 9)"
        row = ac.selectExpr(f"{lag} AS lag", "n", f"{pacf} AS pacf")
        out = row if out is None else out.unionByName(row)
    return out.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n"),
        "pacf",
    )


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift statistic
# ---------------------------------------------------------------------------


@query(
    "page_hinkley_drift",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
s AS (
  SELECT day, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS cum_cents,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM d WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
t AS (
  SELECT day, i,
         CAST(round(CAST(i * cents - cum_cents AS DOUBLE) / i, 0)
              AS BIGINT) AS dev_cents
  FROM s),
c AS (
  SELECT day, i,
         CAST(sum(dev_cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM t),
e AS (
  SELECT day, cum,
         cum - min(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           AS excess
  FROM c),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sqrt(CAST(n2 AS DOUBLE) / (CAST(count(*) AS BIGINT)
              * (CAST(count(*) AS BIGINT) - 1))) AS sigma_cents
  FROM d, (SELECT CAST(count(*) AS HUGEINT) * sum(CAST(cents AS HUGEINT)
                 * CAST(cents AS HUGEINT))
                 - sum(CAST(cents AS HUGEINT)) * sum(CAST(cents AS HUGEINT))
             AS n2 FROM d) q
  GROUP BY n2)
SELECT g.n AS n_days,
       round(g.sigma_cents * {PH_LAMBDA_SIGMA} / 100.0, 9)
         AS lambda_threshold,
       CAST(count(CASE WHEN CAST(e.excess AS DOUBLE)
                            > g.sigma_cents * {PH_LAMBDA_SIGMA}
                       THEN 1 END) AS BIGINT) AS n_alarm_days,
       min(CASE WHEN CAST(e.excess AS DOUBLE)
                     > g.sigma_cents * {PH_LAMBDA_SIGMA}
                THEN e.day END) AS first_alarm_day,
       round(CAST(max(e.excess) AS DOUBLE) / 100.0, 9) AS max_excess
FROM e CROSS JOIN g
GROUP BY g.n, g.sigma_cents
""",
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift monitoring (Page 1954; Hinkley 1971,
    no-reset form) over daily revenue: the cumulative deviation from the
    RUNNING mean, cum_t = sum_(i<=t) (x_i - m_i), minus its running
    minimum is the PH excess — it stays near zero under a stable mean
    and ramps when the mean shifts up. Reported: alarm-day count at the
    {L}-sigma threshold, the first alarm day, and the peak excess. The
    ONLINE-shaped member of the drift shelf: revenue_cusum_changepoint
    answers "where was the single best split, in hindsight";
    Page-Hinkley answers "on which days would a monitor have fired".

    Determinism — the windowed-double lesson: a running SUM of doubles
    is NOT order-stable across engines (DuckDB's window aggregator uses
    a segment tree, so its double additions group differently than
    Spark's streaming frame — observed 1-ulp drift on this very query).
    So every accumulated quantity here is an exact INTEGER: daily cents
    are exact, i*x_i - S_i is exact BIGINT, each deviation rounds ONCE
    to whole cents (one IEEE division + round, identical both engines),
    and the running sum/min then accumulate in BIGINT (order-free).
    Sigma comes from exact HUGEINT/DECIMAL moment sums cast to double
    once. Headroom: |dev| <= ~1e9 cents/day at sf0.1 and the cum is
    bounded by days * max|dev| — re-derive before daily cents approach
    2^53 (the double-exactness edge of the i*x - S division).

    Scale: one row per day map-side; three day-ordered windows over the
    date-domain-bounded frame (the sanctioned aggregate-bounded window
    class); output is ONE row.""".format(L=PH_LAMBDA_SIGMA)
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    return ph_summary_from_daily(d)


# ---------------------------------------------------------------------------
# propensity-stratified average treatment effect
# ---------------------------------------------------------------------------

_PS_MAX_STRATUM = 5


@query(
    "propensity_strata_ate",
    oracle=f"""
WITH f AS (
  SELECT c.c_custkey AS key,
         ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % 2 AS grp,
         CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
         CAST(COALESCE(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) * 100
              AS BIGINT) AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
st AS (
  SELECT least(n_orders, {_PS_MAX_STRATUM}) AS stratum, grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS t
  FROM f GROUP BY 1, 2),
w AS (
  SELECT stratum,
         max(CASE WHEN grp = 1 THEN n END) AS n_t,
         max(CASE WHEN grp = 0 THEN n END) AS n_c,
         max(CASE WHEN grp = 1 THEN t END) AS t_t,
         max(CASE WHEN grp = 0 THEN t END) AS t_c
  FROM st GROUP BY 1),
a AS (
  -- one-sided strata (a group absent at small n) carry no contrast and
  -- are excluded, the standard subclassification practice
  SELECT stratum, n_t, n_c,
         CAST(t_t AS DOUBLE) / n_t / 100.0 AS mean_treatment,
         CAST(t_c AS DOUBLE) / n_c / 100.0 AS mean_control,
         CAST(t_t AS DOUBLE) / n_t / 100.0
           - CAST(t_c AS DOUBLE) / n_c / 100.0 AS ate
  FROM w WHERE n_t IS NOT NULL AND n_c IS NOT NULL),
pool AS (
  SELECT list_sort(list(struct_pack(stratum := stratum, n := n_t + n_c,
                                    ate := ate))) AS rows_,
         CAST(sum(n_t + n_c) AS BIGINT) AS nn
  FROM a)
SELECT CAST(stratum AS INT) AS stratum, n_t, n_c,
       mean_treatment, mean_control, ate,
       (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(rows_, x -> x.ate * x.n / nn)), (s, x) -> s + x)
        FROM pool) AS pooled_ate
FROM a
""",
)
def propensity_strata_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average treatment effect (Cochran 1968 subclassification):
    customers hash-split into treatment/control (the deterministic
    assignment every experiment query here uses), stratified by ORDER
    COUNT (capped at {m}) — the observable that would confound a naive
    spend comparison — with per-stratum treatment/control means, the
    per-stratum ATE, and the n-weighted POOLED ate repeated on every row
    (the one number subclassification exists to produce). Completes the
    causal shelf: DiD removes time trends, CUPED removes pre-period
    variance, QTE reads the quantile ladder, stratification removes an
    observed confounder. One-sided strata (a group absent) carry no
    treatment-control contrast and are excluded from both the
    per-stratum rows and the pooled weight.

    Determinism: spend is exact integer cents; each mean is one exact
    division (IEEE identical); the pooled sum is an in-row fold over
    the stratum-sorted array (never a distributed double sum — the
    order-free-sum ban).

    Scale: one groupBy to customer grain, one to (stratum, grp) — both
    map-side combinable; the stratum table is domain-bounded
    (<= {m}+1 rows), so the pooled fold is a broadcast scalar.""".format(
        m=_PS_MAX_STRATUM
    )
    from ecommerce_lakehouse_spark.operators.sketch import md5_hash60  # noqa: F401

    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    f = (
        c.join(o, c["key"] == o["o_custkey"], "left")
        .groupBy("key")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            (
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                )
                * 100
            )
            .cast("long")
            .alias("cents"),
        )
        .select(
            "key",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10)
                .cast("long"),
                F.lit(2),
            ).alias("grp"),
            F.least("n_orders", F.lit(_PS_MAX_STRATUM).cast("long")).alias(
                "stratum"
            ),
            "cents",
        )
    )
    st = f.groupBy("stratum", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    w = st.groupBy("stratum").agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("grp") == 1, F.col("t"))).alias("t_t"),
        F.max(F.when(F.col("grp") == 0, F.col("t"))).alias("t_c"),
    )
    a = w.filter(
        F.col("n_t").isNotNull() & F.col("n_c").isNotNull()
    ).select(
        "stratum",
        "n_t",
        "n_c",
        (F.col("t_t").cast("double") / F.col("n_t") / 100.0).alias(
            "mean_treatment"
        ),
        (F.col("t_c").cast("double") / F.col("n_c") / 100.0).alias(
            "mean_control"
        ),
        (
            F.col("t_t").cast("double") / F.col("n_t") / 100.0
            - F.col("t_c").cast("double") / F.col("n_c") / 100.0
        ).alias("ate"),
    )
    pool = a.agg(
        F.expr(
            "array_sort(collect_list(struct(stratum, n_t + n_c AS n, ate)))"
        ).alias("rows_"),
        F.sum(F.col("n_t") + F.col("n_c")).cast("long").alias("nn"),
    ).select(
        F.expr(
            "aggregate(rows_, CAST(0 AS DOUBLE),"
            " (s, x) -> s + x.ate * x.n / nn)"
        ).alias("pooled_ate")
    )
    return a.crossJoin(F.broadcast(pool)).select(
        F.col("stratum").cast("int").alias("stratum"),
        "n_t",
        "n_c",
        "mean_treatment",
        "mean_control",
        "ate",
        "pooled_ate",
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k retrieval
# ---------------------------------------------------------------------------

_MMR_K = 10
_MMR_POOL = 40
_MMR_LAMBDA = "0.7"

_MMR_DOT_SQL = (
    "list_aggregate(list_transform(range(1, {d} + 1),"
    " i -> {a}[i] * {b}[i]), 'sum')"
)


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    d = EMBED_DIM
    dot_qc = _MMR_DOT_SQL.format(d=d, a="q.emb", b="c.emb")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                            x -> x * x), 'sum')) AS nrm
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id = 0),
scored AS (
  SELECT c.vec_id, c.emb, c.nrm,
         {dot_qc} / (q.nrm * c.nrm) AS rel
  FROM v c CROSS JOIN q WHERE c.vec_id <> 0),
pool AS (
  SELECT * FROM scored
  ORDER BY rel DESC, vec_id ASC LIMIT {_MMR_POOL}),
arrs AS (
  SELECT list_transform(
           list_sort(list(struct_pack(negrel := -rel, vid := vec_id,
                                      emb := emb, nrm := nrm))),
           x -> struct_pack(vid := x.vid, rel := -x.negrel,
                            emb := x.emb, nrm := x.nrm)) AS cands
  FROM pool),
mat AS (
  SELECT cands,
         list_transform(cands, a ->
           list_transform(cands, b ->
             {_MMR_DOT_SQL.format(d=d, a="a.emb", b="b.emb")}
               / (a.nrm * b.nrm))) AS m
  FROM arrs),
sel AS (
  SELECT cands, m,
         list_reduce(
           list_prepend([1], list_transform(range(2, {_MMR_K} + 1),
                                            k -> [CAST(k AS BIGINT)])),
           (s, e) -> list_append(s,
             list_sort(list_transform(
               list_filter(range(1, len(cands) + 1),
                           i -> NOT list_contains(s, i)),
               i -> struct_pack(
                 negscore := -({lam} * cands[i].rel
                   - (1 - {lam}) * list_reduce(
                       list_transform(s, j -> m[i][j]),
                       (a, x) -> greatest(a, x))),
                 vid := cands[i].vid,
                 i := i)))[1].i)) AS sel
  FROM mat),
ranked AS (
  SELECT r AS rank, cands[sel[r]].vid AS vec_id,
         cands[sel[r]].rel AS rel,
         CASE WHEN r = 1 THEN cands[sel[1]].rel
              ELSE {lam} * cands[sel[r]].rel
                   - (1 - {lam}) * list_reduce(
                       list_transform(range(1, r),
                                      j -> m[sel[r]][sel[j]]),
                       (a, x) -> greatest(a, x))
         END AS mmr
  FROM sel, (SELECT CAST(unnest(range(1, {_MMR_K} + 1)) AS INT) AS r) rr)
SELECT rank, vec_id, round(rel, 5) AS cosine_rel,
       round(mmr, 5) AS mmr_score
FROM ranked
"""


@query("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) over the embedding corpus: retrieve a {p}-candidate cosine
    shortlist for the query vector (vec_id 0), then greedily select
    {k} results maximizing lambda*rel(i) - (1-lambda)*max_(j in S)
    sim(i, j) — relevance traded against redundancy, the re-ranker that
    keeps a RAG context window from being {k} copies of the same
    paragraph. Completes the retrieval shelf: BM25 ranks text, kNN/IVF/
    LSH rank vectors, RRF fuses lists — MMR DIVERSIFIES the final list.

    Determinism: every dot product is the same ordered 64-term fold
    both engines run everywhere else (the knn idiom); the greedy argmax
    compares raw doubles produced by identical IEEE sequences, with
    ties broken by vec_id; scores are rounded ONCE for output.

    Scale: the shortlist is a broadcast-query scan + TakeOrdered
    (embedding_knn_bruteforce's plan); everything after is ONE in-row
    fold over a {p}x{p} bounded similarity matrix — the re-rank cost is
    independent of corpus size by construction.""".format(
        p=_MMR_POOL, k=_MMR_K
    )
    lam = _MMR_LAMBDA
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(
        F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    withn = e.withColumn("nrm", F.sqrt(sq))
    q = withn.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    pool = (
        withn.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("rel", dot / (F.col("q_nrm") * F.col("nrm")))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
    )
    arrs = pool.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-rel AS negrel,"
            " vec_id AS vid, emb, nrm))),"
            " x -> struct(x.vid AS vid, -x.negrel AS rel,"
            " x.emb AS emb, x.nrm AS nrm))"
        ).alias("cands")
    )
    mat = arrs.selectExpr(
        "cands",
        f"""transform(cands, a -> transform(cands, b ->
  aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y),
    CAST(0 AS DOUBLE), (s, x) -> s + x) / (a.nrm * b.nrm))) AS m""",
    )
    sel = mat.selectExpr(
        "cands",
        "m",
        f"""aggregate(sequence(2, {_MMR_K}), array(1),
  (s, k) -> concat(s, array(
    array_min(transform(
      filter(sequence(1, size(cands)), i -> NOT array_contains(s, i)),
      i -> struct(
        -({lam} * element_at(cands, i).rel
          - (1 - {lam}) * array_max(transform(s,
              j -> element_at(element_at(m, i), j)))) AS negscore,
        element_at(cands, i).vid AS vid,
        i AS i))).i))) AS sel""",
    )
    # one-row barrier: the {k} per-rank projection branches below would
    # otherwise each re-run the shortlist scan + the greedy fold
    sel = sel.localCheckpoint(eager=False)
    out = None
    for r in range(1, _MMR_K + 1):
        if r == 1:
            mmr = "element_at(cands, element_at(sel, 1)).rel"
        else:
            mmr = f"""{lam} * element_at(cands, element_at(sel, {r})).rel
  - (1 - {lam}) * array_max(transform(sequence(1, {r - 1}),
      j -> element_at(element_at(m, element_at(sel, {r})),
                      element_at(sel, j))))"""
        row = sel.selectExpr(
            f"{r} AS rank",
            f"element_at(cands, element_at(sel, {r})).vid AS vec_id",
            f"round(element_at(cands, element_at(sel, {r})).rel, 5)"
            " AS cosine_rel",
            f"round({mmr}, 5) AS mmr_score",
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        "cosine_rel",
        "mmr_score",
    )


# ---------------------------------------------------------------------------
# embedding anisotropy: top eigenpair by power iteration
# ---------------------------------------------------------------------------

_PCA_SCALE = 1048576  # 2^20 fixed-point quantization (the llm9 idiom)
_PCA_ROUNDS = 16  # power-iteration budget: the OUTPUT is defined as the
# 16-round iterate (deterministic in both engines regardless of spectral
# gap); anisotropic spectra converge in far fewer, and for near-isotropic
# spectra no budget converges — lambda1_share still reads ~1/dim, which
# IS the isotropy diagnosis


def _pca_pos(i: str, j: str) -> str:
    """1-based position of upper-triangle entry (i<=j) in the (i,j)-sorted
    flat list: sum_(a<i)(65-a) + (j-i+1)."""
    return (
        f"CAST(({i} - 1) * 65 - ({i} * ({i} - 1)) DIV 2"
        f" + ({j} - {i} + 1) AS INT)"
    )


def _pca_pos_duck(i: str, j: str) -> str:
    return f"(({i} - 1) * 65 - ({i} * ({i} - 1)) // 2 + ({j} - {i} + 1))"


@query(
    "embedding_pca_power",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * {_PCA_SCALE}) AS BIGINT)) AS qv
  FROM embeddings),
terms AS (
  SELECT u.i, u.j, u.p
  FROM (SELECT unnest(flatten(list_transform(range(1, {EMBED_DIM} + 1),
          i -> list_transform(range(i, {EMBED_DIM} + 1),
            j -> {{'i': i, 'j': j, 'p': qv[i] * qv[j]}})))) AS u
        FROM q), LATERAL (SELECT u.i AS i, u.j AS j, u.p AS p) z),
sums AS (
  SELECT i, j, sum(CAST(p AS HUGEINT)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM terms GROUP BY 1, 2),
means AS (
  SELECT i, CAST(sum(CASE WHEN u.k = i THEN u.q END) AS HUGEINT) AS m
  FROM (SELECT unnest(list_transform(range(1, {EMBED_DIM} + 1),
                 k -> {{'k': k, 'q': qv[k]}})) AS u FROM q),
       LATERAL (SELECT u.k AS k, u.q AS q) z,
       (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) d
  GROUP BY i),
flat AS (
  SELECT list_transform(
           list_sort(list(struct_pack(i := s2.i, j := s2.j,
             c := CAST(s2.n * s2.s - m1.m * m2.m AS DOUBLE)
                  / (CAST(s2.n AS DOUBLE) * (s2.n - 1)
                     * {_PCA_SCALE} * {_PCA_SCALE})))),
           x -> x.c) AS f,
         any_value(s2.n) AS n
  FROM sums s2 JOIN means m1 ON m1.i = s2.i JOIN means m2 ON m2.i = s2.j),
mat AS (
  SELECT n, f,
         list_transform(range(1, {EMBED_DIM} + 1), i ->
           list_transform(range(1, {EMBED_DIM} + 1), j ->
             CASE WHEN i <= j THEN f[{_pca_pos_duck("i", "j")}]
                  ELSE f[{_pca_pos_duck("j", "i")}] END)) AS c
  FROM flat),
pw AS (
  SELECT n, c,
         list_reduce(
           list_prepend(
             list_transform(range(1, {EMBED_DIM} + 1),
                            d -> CAST(1.0 AS DOUBLE)),
             list_transform(range(1, {_PCA_ROUNDS} + 1),
                            it -> [CAST(it AS DOUBLE)])),
           (w, e) -> (
             list_transform(
               list_transform(range(1, {EMBED_DIM} + 1), i ->
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, {EMBED_DIM} + 1),
                                  j -> c[i][j] * w[j])),
                   (s, x) -> s + x)),
               y -> y / sqrt(list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(
                     list_transform(range(1, {EMBED_DIM} + 1), i2 ->
                       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(range(1, {EMBED_DIM} + 1),
                                        j2 -> c[i2][j2] * w[j2])),
                         (s, x) -> s + x)),
                     z2 -> z2 * z2)),
                   (s, x) -> s + x))))) AS w
  FROM mat),
fin AS (
  SELECT n, c, w,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, {EMBED_DIM} + 1), i ->
             w[i] * list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {EMBED_DIM} + 1),
                              j -> c[i][j] * w[j])),
               (s, x) -> s + x))),
           (s, x) -> s + x) AS lambda1,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, {EMBED_DIM} + 1), i -> c[i][i])),
           (s, x) -> s + x) AS trace
  FROM pw)
SELECT n, {EMBED_DIM} AS dim,
       round(trace, 9) AS trace,
       round(lambda1, 9) AS lambda1,
       round(lambda1 / trace, 9) AS lambda1_share,
       CAST(list_sort(list_transform(range(1, {EMBED_DIM} + 1),
         i -> struct_pack(na := -abs(w[i]), i := i)))[1].i AS INT)
         AS top_component_dim
FROM fin
""",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top covariance eigenpair of the embedding corpus by {r}-round
    power iteration — the ANISOTROPY audit (Ethayarajh 2019; Mu &
    Viswanath 2018 "all-but-the-top"): lambda1/trace is the variance
    share of the dominant direction (1/dim = isotropic; near 1 =
    representation collapse, where cosine similarity stops being
    informative and every ANN/dedup operator upstream degrades). The
    geometry check a pipeline runs BEFORE trusting its embedding
    column.

    Determinism — corpus-level float sums are banned (order-dependent),
    so components quantize to exact 2^20 fixed-point integers (the
    llm9 centroid idiom) and every covariance moment is an exact
    integer sum (HUGEINT / DECIMAL(38)); each C_ij becomes a double via
    ONE division. The power iteration then runs in-row over the
    64x64 matrix with ascending-j matvec folds and a correctly-rounded
    sqrt per normalize — both engines execute the identical IEEE
    sequence; outputs round ONCE.

    Scale: the moment pass is an explode to dim*(dim+1)/2 = 2080 terms
    per row collapsing map-side to ONE row per (i, j) — state is
    dim^2-bounded, never row-bounded; the iteration itself is an in-row
    fold over the bounded matrix. Headroom: n * sum(q_i q_j) must stay
    inside DECIMAL(38) — good to ~1e12 rows at 2^20 scaling.""".format(
        r=_PCA_ROUNDS
    )
    e = load(spark, sf_dir, "embeddings").select(
        F.expr(
            f"transform(CAST(embedding AS array<double>),"
            f" x -> CAST(round(x * {_PCA_SCALE}, 0) AS BIGINT))"
        ).alias("qv")
    )
    # upper-triangle moment terms as chained Generate operators (the
    # frequent_triple_itemsets lesson: pipelined generators beat a
    # flatten(transform(...)) lambda tree that materializes all 2080
    # structs per row before exploding)
    t1 = e.select("qv", F.posexplode("qv").alias("i0", "qi"))
    terms = t1.select(
        (F.col("i0") + 1).alias("i"),
        "qi",
        F.posexplode(
            F.expr(f"slice(qv, i0 + 1, {EMBED_DIM} - i0)")
        ).alias("j0", "qj"),
    ).select(
        "i",
        (F.col("i") + F.col("j0")).alias("j"),
        (F.col("qi") * F.col("qj")).alias("p"),
    )
    sums = terms.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    means = (
        e.select(F.posexplode("qv").alias("k0", "q"))
        .groupBy(F.col("k0").alias("mi"))
        .agg(F.sum(F.col("q").cast("decimal(38,0)")).alias("m"))
        .select((F.col("mi") + 1).alias("mi"), "m")
    )
    m1 = means.select(F.col("mi").alias("i"), F.col("m").alias("m1"))
    m2 = means.select(F.col("mi").alias("j"), F.col("m").alias("m2"))
    cov = (
        sums.join(F.broadcast(m1), "i")
        .join(F.broadcast(m2), "j")
        .select(
            "i",
            "j",
            (
                (
                    F.col("n").cast("decimal(38,0)") * F.col("s")
                    - F.col("m1") * F.col("m2")
                ).cast("double")
                / (
                    F.col("n").cast("double")
                    * (F.col("n") - 1)
                    * F.lit(float(_PCA_SCALE) * _PCA_SCALE)
                )
            ).alias("c"),
            "n",
        )
    )
    flat = cov.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, j, c))), x -> x.c)"
        ).alias("f"),
        F.max("n").alias("n"),
    )
    mat = flat.selectExpr(
        "n",
        f"""transform(sequence(1, {EMBED_DIM}), i ->
  transform(sequence(1, {EMBED_DIM}), j ->
    IF(i <= j, element_at(f, {_pca_pos("i", "j")}),
       element_at(f, {_pca_pos("j", "i")})))) AS c""",
    )
    matvec = f"""transform(sequence(1, {EMBED_DIM}), i ->
  aggregate(transform(sequence(1, {EMBED_DIM}),
    j -> element_at(element_at(c, i), j) * element_at(w, j)),
    CAST(0 AS DOUBLE), (s, x) -> s + x))"""
    pw = mat.selectExpr(
        "n",
        "c",
        f"""aggregate(sequence(1, {_PCA_ROUNDS}),
  transform(sequence(1, {EMBED_DIM}), d -> CAST(1.0 AS DOUBLE)),
  (w, it) -> transform({matvec},
    y -> y / sqrt(aggregate(transform({matvec}, z -> z * z),
                            CAST(0 AS DOUBLE), (s, x) -> s + x)))) AS w""",
    )
    pw = pw.localCheckpoint(eager=False)
    return pw.selectExpr(
        "n",
        f"{EMBED_DIM} AS dim",
        f"""round(aggregate(transform(sequence(1, {EMBED_DIM}),
  i -> element_at(element_at(c, i), i)),
  CAST(0 AS DOUBLE), (s, x) -> s + x), 9) AS trace""",
        f"""round(aggregate(transform(sequence(1, {EMBED_DIM}), i ->
  element_at(w, i) * aggregate(transform(sequence(1, {EMBED_DIM}),
    j -> element_at(element_at(c, i), j) * element_at(w, j)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)),
  CAST(0 AS DOUBLE), (s, x) -> s + x), 9) AS lambda1""",
        f"""round(aggregate(transform(sequence(1, {EMBED_DIM}), i ->
  element_at(w, i) * aggregate(transform(sequence(1, {EMBED_DIM}),
    j -> element_at(element_at(c, i), j) * element_at(w, j)),
    CAST(0 AS DOUBLE), (s, x) -> s + x)),
  CAST(0 AS DOUBLE), (s, x) -> s + x)
  / aggregate(transform(sequence(1, {EMBED_DIM}),
    i -> element_at(element_at(c, i), i)),
    CAST(0 AS DOUBLE), (s, x) -> s + x), 9) AS lambda1_share""",
        f"""CAST(array_min(transform(sequence(1, {EMBED_DIM}),
  i -> struct(-abs(element_at(w, i)) AS na, i AS i))).i AS INT)
  AS top_component_dim""",
    ).select(
        F.col("n").cast("long").alias("n"),
        F.col("dim").cast("int").alias("dim"),
        "trace",
        "lambda1",
        "lambda1_share",
        "top_component_dim",
    )


# ---------------------------------------------------------------------------
# dedup mixture shift: per-source token share, raw vs deduplicated
# ---------------------------------------------------------------------------


@query(
    "dedup_mixture_shift",
    oracle="""
WITH tok AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents),
canon AS (
  SELECT h, min(doc_id) AS keep FROM tok GROUP BY 1),
per_source AS (
  SELECT t.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t.n_tok) AS BIGINT) AS tok_raw,
         CAST(count(CASE WHEN t.doc_id = c.keep THEN 1 END) AS BIGINT)
           AS n_canonical,
         CAST(sum(CASE WHEN t.doc_id = c.keep THEN t.n_tok ELSE 0 END)
              AS BIGINT) AS tok_dedup
  FROM tok t JOIN canon c ON t.h = c.h
  GROUP BY 1),
tot AS (
  SELECT CAST(sum(tok_raw) AS BIGINT) AS raw_total,
         CAST(sum(tok_dedup) AS BIGINT) AS dedup_total
  FROM per_source)
SELECT source, n_docs, n_canonical, tok_raw, tok_dedup,
       CAST(tok_raw AS DOUBLE) / raw_total AS share_raw,
       CAST(tok_dedup AS DOUBLE) / dedup_total AS share_dedup,
       CAST(tok_dedup AS DOUBLE) / dedup_total
         - CAST(tok_raw AS DOUBLE) / raw_total AS share_shift
FROM per_source CROSS JOIN tot
ORDER BY source
""",
)
def dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-bias audit every mixture-weighted training run needs:
    per SOURCE, the token share of the corpus BEFORE exact dedup vs
    AFTER (canonical docs only, survivor = min doc_id per content
    hash), and the shift between them. Boilerplate-heavy sources lose
    share under dedup — silently changing the training mixture the
    temperature/DSIR weights were tuned on; this query puts a number on
    that drift per source BEFORE the weights are applied.

    Exactness: token counts and content hashes are exact; shares are
    single divisions of exact BIGINTs (IEEE identical); output ordered
    by source.

    Scale: one fixed-width groupBy on the md5 hash (text never shuffles
    for it — the exact_dedup shape), one per-source aggregate, and a
    broadcast of the 1-row totals; all map-side combinable."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
            )
        )
        .cast("long")
        .alias("n_tok"),
    )
    canon = d.groupBy("h").agg(F.min("doc_id").alias("keep"))
    per_source = (
        d.join(canon, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tok_raw"),
            F.sum(F.when(F.col("doc_id") == F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_canonical"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keep"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("tok_dedup"),
        )
    )
    return mixture_shift_summary(per_source)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing
# ---------------------------------------------------------------------------


@query(
    "holt_winters_seasonal",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_sort(list({{'month': month, 'rev': revenue}})) AS a FROM m),
init AS (
  SELECT a, len(a) AS n,
         list_reduce(list_transform(a[1:12], x -> x.rev),
                     (s, x) -> s + x) / 12 AS m1,
         list_reduce(list_transform(a[13:24], x -> x.rev),
                     (s, x) -> s + x) / 12 AS m2
  FROM arr),
st0 AS (
  SELECT a, n,
         list_concat(
           [m1, (m2 - m1) / 12],
           list_transform(range(1, 13), i ->
             a[CAST(i AS INT)].rev - m1)) AS s0
  FROM init),
folded AS (
  SELECT a, n,
         list_reduce(
           list_prepend(s0,
             list_transform(a[25:],
               x -> [x.rev, CAST(month(x.month) AS DOUBLE)])),
           (st, e) -> list_transform(range(1, 15), i -> CASE
             WHEN i = 1 THEN
               {HW_ALPHA} * (e[1] - st[CAST(e[2] AS INT) + 2])
               + (1 - {HW_ALPHA}) * (st[1] + st[2])
             WHEN i = 2 THEN
               {HW_BETA} * (({HW_ALPHA} * (e[1] - st[CAST(e[2] AS INT) + 2])
                 + (1 - {HW_ALPHA}) * (st[1] + st[2])) - st[1])
               + (1 - {HW_BETA}) * st[2]
             WHEN i = CAST(e[2] AS INT) + 2 THEN
               {HW_GAMMA} * (e[1]
                 - ({HW_ALPHA} * (e[1] - st[CAST(e[2] AS INT) + 2])
                    + (1 - {HW_ALPHA}) * (st[1] + st[2])))
               + (1 - {HW_GAMMA}) * st[CAST(e[2] AS INT) + 2]
             ELSE st[i] END)) AS st
  FROM st0),
fc AS (
  SELECT h,
         CAST(a[n].month + to_months(h) AS DATE) AS forecast_month,
         st[1] + h * st[2]
           + st[CAST(month(a[n].month + to_months(h)) AS INT) + 2]
           AS forecast,
         st[1] AS level, st[2] AS trend
  FROM folded, (SELECT CAST(unnest(range(1, {HW_H} + 1)) AS INT) AS h) hh)
SELECT h, forecast_month, forecast, level, trend FROM fc
""",
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (Winters 1960) over
    monthly revenue with a {h}-month forecast: level/trend init from
    the first two observed years (level = year-1 mean, trend =
    year-over-year mean shift / 12, seasonal = year-1 deviations), then
    the standard three-equation update folds months 25..n with the
    seasonal slot keyed by CALENDAR month (robust to any future gap
    semantics, identical both engines). Completes the smoothing shelf:
    exponential smoothing carries level, Holt adds trend, Holt-Winters
    adds the seasonal term the orders_seasonality profile showed.

    Determinism: monthly revenue is exact; the fold state is a flat
    14-vector of doubles updated by the same fixed-order IEEE
    expressions in both engines (each update references only the
    PREVIOUS state — the l'/b'/s' chain is inlined, not re-read);
    forecasts are raw fold outputs, no rounding needed (the
    holt_linear_forecast discipline).

    Scale: map-side collapse to one row per month, one in-row fold —
    noise next to the scan.""".format(h=HW_H)
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue")
    )
    return hw_forecast_from_monthly(m)


# ---------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit
# ---------------------------------------------------------------------------

_HL_POINTS = 10


@query(
    "heaps_law_fit",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH dw AS (
  SELECT doc_id, u.w AS word, u.i AS pos
  FROM (SELECT doc_id,
               unnest(list_transform(
                 list_filter(string_split(regexp_replace(lower(text),
                   '[^a-z]+', ' ', 'g'), ' '), x -> x <> ''),
                 (x, i) -> {{'w': x, 'i': i}})) AS u
        FROM documents)),
dc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
  FROM dw GROUP BY 1),
off AS (
  SELECT doc_id,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS base
  FROM dc),
gidx AS (
  SELECT dw.word, min(off.base + dw.pos) AS first_idx
  FROM dw JOIN off USING (doc_id)
  GROUP BY 1),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS nn FROM dc),
pts AS (
  SELECT p, CAST((p * nn) // {_HL_POINTS} AS BIGINT) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM gidx
          WHERE first_idx <= (p * nn) // {_HL_POINTS}) AS n_types
  FROM tot, (SELECT CAST(unnest(range(1, {_HL_POINTS} + 1)) AS INT) AS p) q),
lg AS (
  SELECT p, n_tokens, n_types,
         CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e9, 0) AS BIGINT)
           AS lx,
         CAST(round(ln(CAST(n_types AS DOUBLE)) * 1e9, 0) AS BIGINT) AS ly
  FROM pts),
ols AS (
  SELECT list_sort(list(struct_pack(p := p, lx := lx, ly := ly))) AS d
  FROM lg),
fit AS (
  SELECT
    (list_reduce(list_prepend(CAST(0 AS DOUBLE),
       list_transform(d, x -> (x.lx / 1e9) * (x.ly / 1e9))),
       (s, x) -> s + x) * {_HL_POINTS}
     - list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(d, x -> x.lx / 1e9)), (s, x) -> s + x)
       * list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(d, x -> x.ly / 1e9)), (s, x) -> s + x))
    / (list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(d, x -> (x.lx / 1e9) * (x.lx / 1e9))),
         (s, x) -> s + x) * {_HL_POINTS}
       - list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(d, x -> x.lx / 1e9)), (s, x) -> s + x)
         * list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(d, x -> x.lx / 1e9)), (s, x) -> s + x))
    AS beta
  FROM ols)
SELECT lg.p AS decile, lg.n_tokens, lg.n_types,
       round(fit.beta, 9) + 0.0 AS heaps_beta
FROM lg CROSS JOIN fit
""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (Heaps 1978): distinct word TYPES as
    a function of scanned TOKENS at {p} corpus-order checkpoints, plus
    the fitted growth exponent beta from log-log OLS (V = K * N^beta;
    English corpora sit near beta ~ 0.5). The forward-looking member of
    the vocabulary shelf: Zipf fits the frequency SHAPE, Chao1
    extrapolates the unseen MASS, Heaps says how vocabulary will GROW
    with more data — the number a tokenizer-capacity plan reads.

    Determinism: each type's first-occurrence index is an exact integer
    (per-doc offsets from an exact prefix sum over the doc-id order);
    checkpoint counts are exact; each log rounds ONCE to nanos and the
    OLS runs over the checkpoint-sorted 10-point array in-row.

    Scale: first-occurrence is one groupBy(word) min over exact global
    indices — vocabulary-bounded state; the doc-offset prefix sum is
    the bucketed two-pass form (operators/scale.py::bucketed_prefix_sum
    — never a single-task global-order window over the row-count-bound
    doc table); checkpoints are {p} broadcast probes of the type
    table."""
    from ecommerce_lakehouse_spark.operators.scale import (
        bucketed_prefix_sum,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "transform(filter(split(regexp_replace(lower(text),"
            " '[^a-z]+', ' '), ' '), x -> x <> ''),"
            " (x, i) -> struct(x AS w, i + 1 AS pos))"
        ).alias("toks"),
    )
    dc = d.select("doc_id", F.size("toks").cast("long").alias("n_tok"))
    # doc-order offsets via the bucketed two-pass prefix sum — the doc
    # table is ROW-count-bounded, so a single global-order window here
    # would be the one-task sort the plan guard bans
    off = bucketed_prefix_sum(
        dc, F.col("doc_id"), ["doc_id"], "n_tok", out_col="base"
    ).select("doc_id", "base")
    dw = d.select("doc_id", F.explode("toks").alias("t")).select(
        "doc_id", F.col("t.w").alias("word"), F.col("t.pos").alias("pos")
    )
    gidx = (
        dw.join(off, "doc_id")
        .groupBy("word")
        .agg(F.min(F.col("base") + F.col("pos")).alias("first_idx"))
    )
    gidx = gidx.localCheckpoint(eager=False)  # probed once per checkpoint
    tot = dc.agg(F.sum("n_tok").cast("long").alias("nn"))
    pts = None
    for p in range(1, _HL_POINTS + 1):
        cut = tot.selectExpr(
            f"{p} AS p", f"CAST(({p} * nn) DIV {_HL_POINTS} AS BIGINT) AS n_tokens"
        )
        row = (
            gidx.crossJoin(F.broadcast(cut))
            .filter(F.col("first_idx") <= F.col("n_tokens"))
            .groupBy("p", "n_tokens")
            .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
        )
        pts = row if pts is None else pts.unionByName(row)
    lg = pts.select(
        "p",
        "n_tokens",
        "n_types",
        F.expr(
            "CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e9, 0) AS BIGINT)"
        ).alias("lx"),
        F.expr(
            "CAST(round(ln(CAST(n_types AS DOUBLE)) * 1e9, 0) AS BIGINT)"
        ).alias("ly"),
    )
    lg = lg.localCheckpoint(eager=False)
    fit = lg.agg(
        F.expr("array_sort(collect_list(struct(p, lx, ly)))").alias("d")
    ).selectExpr(
        f"""(aggregate(transform(d, x -> (x.lx / 1e9) * (x.ly / 1e9)),
  CAST(0 AS DOUBLE), (s, x) -> s + x) * {_HL_POINTS}
 - aggregate(transform(d, x -> x.lx / 1e9),
     CAST(0 AS DOUBLE), (s, x) -> s + x)
   * aggregate(transform(d, x -> x.ly / 1e9),
       CAST(0 AS DOUBLE), (s, x) -> s + x))
/ (aggregate(transform(d, x -> (x.lx / 1e9) * (x.lx / 1e9)),
     CAST(0 AS DOUBLE), (s, x) -> s + x) * {_HL_POINTS}
   - aggregate(transform(d, x -> x.lx / 1e9),
       CAST(0 AS DOUBLE), (s, x) -> s + x)
     * aggregate(transform(d, x -> x.lx / 1e9),
         CAST(0 AS DOUBLE), (s, x) -> s + x)) AS beta"""
    )
    return (
        lg.crossJoin(F.broadcast(fit))
        .select(
            F.col("p").cast("int").alias("decile"),
            "n_tokens",
            "n_types",
            # + 0.0 canonicalizes IEEE negative zero (a saturated
            # vocabulary fits beta ~ -1e-12, which rounds to -0.0 in
            # one engine and 0.0 in the other)
            (F.round("beta", 9) + F.lit(0.0)).alias("heaps_beta"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over customer quasi-identifiers
# ---------------------------------------------------------------------------

_KA_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH f AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
         least(CAST(count(o.o_orderkey) AS BIGINT), 5) AS order_bucket
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3),
eq AS (
  SELECT c_nationkey, c_mktsegment, order_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM f GROUP BY 1, 2, 3)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(min(class_size) AS BIGINT) AS k_anonymity,
       CAST(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS rows_below_k,
       CAST(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
            AS DOUBLE) / sum(class_size) AS risk_fraction,
       CAST(sum(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS unique_rows
FROM eq
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table's
    quasi-identifiers (nation, market segment, order-count bucket): the
    minimum equivalence-class size IS the table's k, plus the
    re-identification risk mass — rows in classes smaller than
    k={k} and fully UNIQUE rows (class size 1, re-identifiable by the
    quasi-identifiers alone). The privacy gate a training-data export
    runs AFTER pii_scan strips direct identifiers: direct PII gone
    does not mean quasi-identifiers are safe.

    Exactness: pure integer counting end to end; the risk fraction is
    one exact division.

    Scale: one groupBy to customer grain (the feature-matrix shape),
    one to the quasi-identifier domain (bounded: nations x segments x
    buckets), one 1-row reduce — all map-side combinable."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), "c_nationkey", "c_mktsegment"
    )
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    f = (
        c.join(o, c["key"] == o["o_custkey"], "left")
        .groupBy("key", "c_nationkey", "c_mktsegment")
        .agg(
            F.least(
                F.count("o_orderkey").cast("long"), F.lit(5).cast("long")
            ).alias("order_bucket")
        )
    )
    eq = f.groupBy("c_nationkey", "c_mktsegment", "order_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    return eq.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.min("class_size").cast("long").alias("k_anonymity"),
        F.sum(
            F.when(F.col("class_size") < _KA_K, F.col("class_size")).otherwise(0)
        )
        .cast("long")
        .alias("rows_below_k"),
        (
            F.sum(
                F.when(
                    F.col("class_size") < _KA_K, F.col("class_size")
                ).otherwise(0)
            ).cast("double")
            / F.sum("class_size")
        ).alias("risk_fraction"),
        F.sum(F.when(F.col("class_size") == 1, 1).otherwise(0))
        .cast("long")
        .alias("unique_rows"),
    )


# ---------------------------------------------------------------------------
# clustering-coefficient profile (per exact degree) + global transitivity
# ---------------------------------------------------------------------------


@query(
    "clustering_coefficient_profile",
    oracle=f"""
WITH {_COPURCHASE_EDGES},
deg AS (SELECT z AS node, CAST(count(*) AS BIGINT) AS dg
        FROM adj GROUP BY 1),
o AS (
  SELECT CASE WHEN (ds.dg, e.s) < (dd.dg, e.d) THEN e.s ELSE e.d END AS lo,
         CASE WHEN (ds.dg, e.s) < (dd.dg, e.d) THEN e.d ELSE e.s END AS hi
  FROM e JOIN deg ds ON e.s = ds.node JOIN deg dd ON e.d = dd.node),
tri AS (
  SELECT o1.lo AS a, o1.hi AS b, o2.hi AS c
  FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi
  JOIN o o3 ON o3.lo = o1.hi AND o3.hi = o2.hi),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY 1),
joined AS (
  SELECT deg.node, deg.dg, COALESCE(pernode.t, 0) AS t
  FROM deg LEFT JOIN pernode USING (node)
  WHERE deg.dg >= 2),
gstat AS (
  SELECT CAST(3 * (SELECT count(*) FROM tri) AS BIGINT) AS closed,
         CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS wedges
  FROM joined)
SELECT CAST(j.dg AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(j.t) AS BIGINT) AS sum_triangles,
       CAST(2 * sum(j.t) AS DOUBLE)
         / (count(*) * j.dg * (j.dg - 1)) AS avg_local_cc,
       CAST(g.closed AS DOUBLE) / g.wedges AS global_transitivity
FROM joined j CROSS JOIN gstat g
GROUP BY j.dg, g.closed, g.wedges
""",
)
def clustering_coefficient_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998) profiled by
    EXACT degree over the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets), plus the global
    transitivity ratio 3*triangles/wedges: do well-connected parts sit
    in tight co-purchase cliques (bundle structure) or span unrelated
    baskets (hub structure)? The degree-resolved answer is how the
    hierarchy is read (cc falling with degree = hierarchical modularity,
    Ravasz & Barabasi 2003). Completes the graph-structure shelf:
    triangle counts say HOW MANY, the cc profile says how many RELATIVE
    to each node's own wedge budget.

    Exactness — the order-free-sum discipline: within a degree class
    every node shares the wedge denominator d(d-1)/2, so the class mean
    cc is the exact integer sum of per-node triangle counts in ONE
    exact division 2*sum_t / (n*d*(d-1)) — no per-node float cc is ever
    summed. Global transitivity is one division of exact integers.

    Scale: the degree-ordered rank-join triangle enumeration
    (triangle_copurchase's plan — each triangle materializes once, hub
    wedges capped by the orientation trick); the profile groupBy runs
    over the degree domain.

    r10 note (attempted optimization, REVERTED): per-edge common
    neighbor counting (|N(s) ∩ N(d)| via array_intersect, summed per
    incident node DIV 2) would be cheaper but computes the TRUE
    triangle count, which differs from this query's DECLARED
    enumeration — the oracle's wedge pair compares raw ids
    (o1.hi < o2.hi) while the closing edge is oriented by (degree, id),
    so triangles whose two non-apex vertices order differently under
    the two comparisons are not counted. The declared result (locked by
    the oracle hash at three SFs) keeps the enumeration."""
    e, adj = _support_graph(spark, sf_dir)
    from ecommerce_lakehouse_spark.operators.scale import narrow_barrier

    # deg feeds THREE consumers (both orientation sides + the wedge
    # profile); barrier it once, narrow + LAZY — node-domain-bounded
    # frame, all consumers inside this query's single action
    deg = adj.groupBy(F.col("z").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    ).transform(lambda d: narrow_barrier(d, eager=False))
    ds = deg.select(F.col("node").alias("s"), F.col("dg").alias("dgs"))
    dd = deg.select(F.col("node").alias("d"), F.col("dg").alias("dgd"))
    # node-domain-bounded sides broadcast explicitly (RDD-scan inputs
    # carry no stats — the planner picked SortMergeJoins otherwise)
    o = (
        e.join(F.broadcast(ds), "s")
        .join(F.broadcast(dd), "d")
        .select(
            F.when(
                F.struct("dgs", "s") < F.struct("dgd", "d"), F.col("s")
            )
            .otherwise(F.col("d"))
            .alias("lo"),
            F.when(
                F.struct("dgs", "s") < F.struct("dgd", "d"), F.col("d")
            )
            .otherwise(F.col("s"))
            .alias("hi"),
        )
    )
    # three-way self-join reuses it; support-bounded -> narrow width
    # (task-count hygiene under the AQE floor, operators/scale.py)
    o = o.coalesce(4).localCheckpoint(eager=False)
    o2 = o.select(F.col("lo").alias("lo2"), F.col("hi").alias("hi2"))
    o3 = o.select(F.col("lo").alias("lo3"), F.col("hi").alias("hi3"))
    tri = (
        o.join(o2, (F.col("lo") == F.col("lo2")) & (F.col("hi") < F.col("hi2")))
        .join(o3, (F.col("lo3") == F.col("hi")) & (F.col("hi3") == F.col("hi2")))
        .select(F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("hi2").alias("c"))
    )
    # per-node roles + global count; triangle set is support-bounded
    tri = tri.coalesce(4).localCheckpoint(eager=False)
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    joined = (
        deg.join(F.broadcast(pernode), "node", "left")
        .select("node", "dg", F.coalesce("t", F.lit(0)).alias("t"))
        .filter(F.col("dg") >= 2)
    )
    glob = joined.agg(
        F.expr("CAST(sum(dg * (dg - 1) DIV 2) AS BIGINT)").alias("wedges")
    ).crossJoin(
        F.broadcast(
            tri.agg((3 * F.count(F.lit(1))).cast("long").alias("closed"))
        )
    )
    return (
        joined.groupBy("dg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("t").cast("long").alias("sum_triangles"),
        )
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("dg").cast("long").alias("degree"),
            "n_nodes",
            "sum_triangles",
            (
                (2 * F.col("sum_triangles")).cast("double")
                / (F.col("n_nodes") * F.col("dg") * (F.col("dg") - 1))
            ).alias("avg_local_cc"),
            (F.col("closed").cast("double") / F.col("wedges")).alias(
                "global_transitivity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# discount uplift profile
# ---------------------------------------------------------------------------


@query(
    "discount_uplift_profile",
    oracle="""
WITH lvl AS (
  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS discount_pct,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
              AS DOUBLE) AS net_revenue
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(n_lines) AS BIGINT) AS nl FROM lvl),
pts AS (
  SELECT list_sort(list(struct_pack(x := discount_pct,
                                    y := CAST(total_qty AS DOUBLE) / n_lines)))
           AS d,
         CAST(count(*) AS BIGINT) AS k
  FROM lvl),
fit AS (
  SELECT
    (list_reduce(list_prepend(CAST(0 AS DOUBLE),
       list_transform(d, p -> p.x * p.y)), (s, x) -> s + x) * k
     - list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(d, p -> CAST(p.x AS DOUBLE))), (s, x) -> s + x)
       * list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(d, p -> p.y)), (s, x) -> s + x))
    / (list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(d, p -> CAST(p.x AS DOUBLE) * p.x)),
         (s, x) -> s + x) * k
       - list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(d, p -> CAST(p.x AS DOUBLE))), (s, x) -> s + x)
         * list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(d, p -> CAST(p.x AS DOUBLE))), (s, x) -> s + x))
    AS slope
  FROM pts)
SELECT lvl.discount_pct, lvl.n_lines, lvl.total_qty,
       CAST(lvl.total_qty AS DOUBLE) / lvl.n_lines AS avg_qty,
       lvl.net_revenue,
       CAST(lvl.n_lines AS DOUBLE) / tot.nl AS line_share,
       round(fit.slope, 9) + 0.0 AS qty_per_discount_pt
FROM lvl CROSS JOIN tot CROSS JOIN fit
""",
)
def discount_uplift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount response profile over the lineitem fact: per discount
    level (0..10%), line count, total and average quantity, net
    revenue, and the OLS slope of average quantity against the discount
    level — the first-order answer to "do discounts move volume?" that
    a pricing analyst reads before any causal machinery (and the
    within-dataset sanity check FOR that machinery: TPC-H assigns
    discounts uniformly, so the fitted uplift should be ~0 — a nonzero
    slope here would flag a broken generator, the same
    null-instrument logic as priority_status_independence).

    Exactness: quantities and revenue are exact (integer quantity sums,
    DECIMAL revenue rounded in the decimal domain); each average is one
    exact division; the OLS runs in-row over the level-sorted <=11-point
    array; slope rounds once (+0.0 canonicalizes negative zero).

    Scale: one map-side groupBy on the 11-value discount domain;
    everything after is broadcast scalars."""
    li = load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_discount * 100, 0) AS BIGINT)").alias(
            "discount_pct"
        ),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
        "l_discount",
    )
    lvl = li.groupBy("discount_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(4,2)"))
            ),
            2,
        )
        .cast("double")
        .alias("net_revenue"),
    )
    lvl = lvl.localCheckpoint(eager=False)  # totals + fit + output reuse
    tot = lvl.agg(F.sum("n_lines").cast("long").alias("nl"))
    fit = lvl.agg(
        F.expr(
            "array_sort(collect_list(struct(discount_pct AS x,"
            " CAST(total_qty AS DOUBLE) / n_lines AS y)))"
        ).alias("d"),
        F.count(F.lit(1)).cast("long").alias("k"),
    ).selectExpr(
        """(aggregate(transform(d, p -> p.x * p.y),
  CAST(0 AS DOUBLE), (s, x) -> s + x) * k
 - aggregate(transform(d, p -> CAST(p.x AS DOUBLE)),
     CAST(0 AS DOUBLE), (s, x) -> s + x)
   * aggregate(transform(d, p -> p.y),
       CAST(0 AS DOUBLE), (s, x) -> s + x))
/ (aggregate(transform(d, p -> CAST(p.x AS DOUBLE) * p.x),
     CAST(0 AS DOUBLE), (s, x) -> s + x) * k
   - aggregate(transform(d, p -> CAST(p.x AS DOUBLE)),
       CAST(0 AS DOUBLE), (s, x) -> s + x)
     * aggregate(transform(d, p -> CAST(p.x AS DOUBLE)),
         CAST(0 AS DOUBLE), (s, x) -> s + x)) AS slope"""
    )
    return (
        lvl.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(fit))
        .select(
            "discount_pct",
            "n_lines",
            "total_qty",
            (F.col("total_qty").cast("double") / F.col("n_lines")).alias(
                "avg_qty"
            ),
            "net_revenue",
            (F.col("n_lines").cast("double") / F.col("nl")).alias(
                "line_share"
            ),
            (F.round("slope", 9) + F.lit(0.0)).alias("qty_per_discount_pt"),
        )
    )


# ---------------------------------------------------------------------------
# safety-stock plan from intermittent weekly demand
# ---------------------------------------------------------------------------

_SS_TOP = 50
_SS_Q = "0.95"


@query(
    "safety_stock_plan",
    oracle=f"""
WITH wk AS (
  SELECT l_partkey,
         CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2),
spine AS (
  SELECT CAST(count(DISTINCT date_trunc('week', l_shipdate)) AS BIGINT)
    AS n_weeks FROM lineitem),
r AS (
  SELECT l_partkey, qty,
         row_number() OVER (PARTITION BY l_partkey ORDER BY qty, week)
           AS rn,
         CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS w_obs,
         CAST(sum(qty) OVER (PARTITION BY l_partkey) AS BIGINT) AS total
  FROM wk),
-- P95 over the FULL W-week distribution (unobserved weeks are exact
-- zeros, never materialized): index k = ceil(q*W); if k <= W - w_obs
-- the quantile is 0, else it is observed order statistic k-(W-w_obs)
q AS (
  SELECT r.l_partkey, r.total, r.w_obs, s.n_weeks,
         max(CASE WHEN r.rn = CAST(ceil({_SS_Q} * s.n_weeks) AS BIGINT)
                       - (s.n_weeks - r.w_obs)
                  THEN r.qty END) AS p95_obs
  FROM r CROSS JOIN spine s
  GROUP BY 1, 2, 3, 4),
plan AS (
  SELECT l_partkey, total, w_obs, n_weeks,
         CAST(COALESCE(p95_obs, 0) AS BIGINT) AS p95_weekly,
         CAST(total AS DOUBLE) / n_weeks AS mean_weekly
  FROM q)
SELECT l_partkey, total AS total_qty, w_obs AS weeks_with_demand,
       n_weeks, mean_weekly, p95_weekly,
       p95_weekly - mean_weekly AS safety_stock,
       2 * mean_weekly + (p95_weekly - mean_weekly) AS reorder_point_2w
FROM plan
ORDER BY total_qty DESC, l_partkey LIMIT {_SS_TOP}
""",
)
def safety_stock_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety-stock / reorder-point plan from INTERMITTENT weekly demand
    (the newsvendor quantile rule with an empirical P95): per part, mean
    weekly demand over the FULL week spine, the P95 week, safety stock =
    P95 - mean, and a 2-week reorder point — for the top-{k} movers.
    Operationalizes the intermittency shelf: part_demand_intermittency
    DESCRIBES the sparsity, Croston forecasts the mean; this answers
    the warehouse question ("how much buffer").

    The zero-week trick (the 100 TB shape): most part-weeks have NO
    demand and are never materialized — the P95 over the full W-week
    distribution comes from RANK ARITHMETIC instead: with W - w_obs
    exact zeros below every observed value, order statistic
    k = ceil(0.95 W) is 0 when k <= W - w_obs and otherwise the
    (k - (W - w_obs))-th smallest OBSERVED week. Exactness: selection
    statistics and integer sums only; the mean is one exact division.

    Scale: one (part, week) map-side rollup, per-part rank windows
    (largest group = weeks domain, bounded), a broadcast 1-row spine,
    TakeOrdered top-{k}.""".format(k=_SS_TOP)
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.to_date(F.date_trunc("week", "l_shipdate")).alias("week"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    wk = li.groupBy("l_partkey", "week").agg(
        F.sum("qty").cast("long").alias("qty")
    )
    spine = li.agg(
        F.countDistinct("week").cast("long").alias("n_weeks")
    )
    w_rank = Window.partitionBy("l_partkey").orderBy("qty", "week")
    w_all = Window.partitionBy("l_partkey")
    r = wk.select(
        "l_partkey",
        "qty",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("w_obs"),
        F.sum("qty").over(w_all).cast("long").alias("total"),
    )
    q = (
        r.crossJoin(F.broadcast(spine))
        .groupBy("l_partkey", "total", "w_obs", "n_weeks")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.expr(f"CAST(ceil({_SS_Q} * n_weeks) AS BIGINT)")
                    - (F.col("n_weeks") - F.col("w_obs")),
                    F.col("qty"),
                )
            ).alias("p95_obs")
        )
    )
    plan = q.select(
        "l_partkey",
        F.col("total").alias("total_qty"),
        F.col("w_obs").alias("weeks_with_demand"),
        "n_weeks",
        (F.col("total").cast("double") / F.col("n_weeks")).alias(
            "mean_weekly"
        ),
        F.coalesce("p95_obs", F.lit(0)).cast("long").alias("p95_weekly"),
    )
    return (
        plan.select(
            "l_partkey",
            "total_qty",
            "weeks_with_demand",
            "n_weeks",
            "mean_weekly",
            "p95_weekly",
            (F.col("p95_weekly") - F.col("mean_weekly")).alias("safety_stock"),
            (
                2 * F.col("mean_weekly")
                + (F.col("p95_weekly") - F.col("mean_weekly"))
            ).alias("reorder_point_2w"),
        )
        .orderBy(F.desc("total_qty"), "l_partkey")
        .limit(_SS_TOP)
    )


# ---------------------------------------------------------------------------
# semantic contamination audit (train/test embedding overlap)
# ---------------------------------------------------------------------------

_SC_THRESHOLD = "0.95"


@query(
    "semantic_contamination_audit",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                            x -> x * x), 'sum')) AS nrm,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
           AS is_train
  FROM embeddings),
-- collapse-first on BOTH sides (the dedup-family contract): identical
-- vectors share every cosine, so the quadratic pass runs on distinct
-- embeddings only and test rows rejoin by embedding afterwards
tr AS (SELECT DISTINCT emb, nrm FROM v WHERE is_train),
te AS (
  SELECT emb, nrm, CAST(count(*) AS BIGINT) AS n_dup
  FROM v WHERE NOT is_train GROUP BY 1, 2),
mxd AS (
  SELECT te.emb, te.n_dup,
         max(list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
               i -> te.emb[i] * tr.emb[i]), 'sum') / (te.nrm * tr.nrm))
           AS max_train_sim
  FROM te CROSS JOIN tr
  GROUP BY 1, 2),
mx AS (
  SELECT max_train_sim, unnest(range(1, n_dup + 1)) AS _i FROM mxd),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN max_train_sim >= {_SC_THRESHOLD}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
  FROM mx)
SELECT CAST(least(greatest(CAST(floor(mx.max_train_sim * 10) AS BIGINT),
                           -10), 9) AS BIGINT) AS sim_bucket,
       CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(round(min(mx.max_train_sim), 6) AS DOUBLE) AS bucket_min_sim,
       CAST(round(max(mx.max_train_sim), 6) AS DOUBLE) AS bucket_max_sim,
       CAST(tot.n_contaminated AS DOUBLE) / tot.n_test
         AS contamination_rate
FROM mx CROSS JOIN tot
GROUP BY 1, tot.n_contaminated, tot.n_test
""",
)
def semantic_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/test contamination audit: hash-split the embedding
    corpus 80/20, compute each test vector's maximum cosine to ANY train
    vector, and report the distribution (decile buckets of max-sim) plus
    the contamination rate at cosine >= {t}. The embedding-space
    complement of split_contamination_audit's exact n-gram check — the
    leakage n-grams cannot see (paraphrases, translations, near-dups
    that tokenize differently) is exactly what an embedding
    similarity sees (the eval-integrity methodology of GPT-4/Llama
    technical reports).

    Exactness: the dot products are the fixed-order 64-term folds used
    corpus-wide; max is order-free; bucket edges are exact integer
    floors; the rate is one exact division.

    Scale: the TEST side is the small side by construction (eval sets
    are bounded) — it broadcasts, the train corpus streams, and state
    collapses to one row per test vector (the knn plan). At extreme
    corpus sizes the max-sim pass composes with the IVF/LSH shortlists
    instead of the full scan — same contract, bucketed candidates.""".format(
        t=_SC_THRESHOLD
    )
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(10),
            )
            < 8
        ).alias("is_train"),
    )
    sq = F.aggregate(
        F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    v = e.withColumn("nrm", F.sqrt(sq))
    # collapse-first (the dedup-family contract): identical vectors
    # share every cosine, so the quadratic pass runs over DISTINCT
    # embeddings only — on a replicated corpus this is the difference
    # between |distinct|^2 and |rows|^2 (measured 76 s -> ~4 s on the
    # 10x smoke); multiplicities weight the histogram afterwards
    test = (
        v.filter(~F.col("is_train"))
        .groupBy("emb", "nrm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup"))
        .select(
            F.col("emb").alias("t_emb"),
            F.col("nrm").alias("t_nrm"),
            "n_dup",
        )
    )
    # repartition the streamed side: after the distinct collapse the
    # train frame is a few thousand rows in a couple of post-shuffle
    # partitions, which would serialize the O(|train| x |test|) probe
    # on two cores — spread it so the nested-loop scan parallelizes
    train = (
        v.filter(F.col("is_train"))
        .select("emb", "nrm")
        .distinct()
        .repartition(64)
    )
    dot = F.aggregate(
        F.zip_with("t_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    mx = (
        train.crossJoin(F.broadcast(test))
        .select(
            "t_emb",
            "n_dup",
            (dot / (F.col("t_nrm") * F.col("nrm"))).alias("sim"),
        )
        .groupBy("t_emb", "n_dup")
        .agg(F.max("sim").alias("max_train_sim"))
        .select(
            "max_train_sim",
            F.explode(F.expr("sequence(1, n_dup)")).alias("_i"),
        )
    )
    mx = mx.localCheckpoint(eager=False)  # totals + buckets reuse it
    tot = mx.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(
                F.col("max_train_sim") >= F.expr(_SC_THRESHOLD), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_contaminated"),
    )
    return (
        mx.crossJoin(F.broadcast(tot))
        .groupBy(
            F.least(
                F.greatest(
                    F.floor(F.col("max_train_sim") * 10).cast("long"),
                    F.lit(-10).cast("long"),
                ),
                F.lit(9).cast("long"),
            ).alias("sim_bucket"),
            "n_contaminated",
            "n_test",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_docs"),
            F.round(F.min("max_train_sim"), 6).alias("bucket_min_sim"),
            F.round(F.max("max_train_sim"), 6).alias("bucket_max_sim"),
        )
        .select(
            "sim_bucket",
            "n_test_docs",
            "bucket_min_sim",
            "bucket_max_sim",
            (
                F.col("n_contaminated").cast("double") / F.col("n_test")
            ).alias("contamination_rate"),
        )
    )


# ---------------------------------------------------------------------------
# prefix-share profile (KV-cache shareability)
# ---------------------------------------------------------------------------

_PS_KS = [4, 8, 16]


def _prefix_oracle_row(k: int) -> str:
    return f"""
SELECT {k} AS prefix_tokens, n_docs,
       n_prefixes,
       CAST(n_docs - n_prefixes AS DOUBLE) / n_docs AS cache_hit_fraction,
       max_share AS max_prefix_docs
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT p) AS BIGINT) AS n_prefixes,
         CAST(max(cnt) AS BIGINT) AS max_share
  FROM (
    SELECT p, count(*) OVER (PARTITION BY p) AS cnt
    FROM (
      SELECT array_to_string(
               list_filter(string_split(regexp_replace(lower(text),
                 '[^a-z]+', ' ', 'g'), ' '), x -> x <> '')[1:{k}], ' ')
               AS p
      FROM documents) q1) q2) q3"""


@query(
    "prefix_share_profile",
    oracle="\nUNION ALL".join(_prefix_oracle_row(k) for k in _PS_KS)
    + "\nORDER BY prefix_tokens",
)
def prefix_share_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix profile at {ks} tokens — the KV-CACHE shareability
    estimate for inference serving (vLLM/SGLang prefix caching; RadixAttention): if two
    requests share their first k tokens, the second's prefill reuses
    the first's KV entries, so cache_hit_fraction = 1 - distinct
    prefixes / docs is the upper bound on prefix-cache hit rate at
    depth k. Boilerplate-heavy corpora (and system-prompt-shaped
    requests) show high shares at small k — the number a serving-cost
    model reads off the corpus BEFORE provisioning.

    Exactness: prefixes are exact token joins; all counts exact; the
    fraction is one division.

    Scale: one groupBy per k on the fixed-width prefix string (text
    never shuffles beyond its first k tokens) — the exact_dedup shape
    with a prefix key.""".format(ks=_PS_KS)
    d = load(spark, sf_dir, "documents").select(
        F.expr(ALPHA_TOKS_S).alias("toks")
    )
    d = d.localCheckpoint(eager=False)  # one tokenize, three prefix passes
    out = None
    for k in _PS_KS:
        pref = d.select(
            F.expr(f"array_join(slice(toks, 1, {k}), ' ')").alias("p")
        )
        per = pref.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        row = per.agg(
            F.lit(k).cast("int").alias("prefix_tokens"),
            F.sum("cnt").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_prefixes"),
            (
                (F.sum("cnt") - F.count(F.lit(1))).cast("double")
                / F.sum("cnt")
            ).alias("cache_hit_fraction"),
            F.max("cnt").cast("long").alias("max_prefix_docs"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("prefix_tokens")


# ---------------------------------------------------------------------------
# duplication spectrum (dedup ROI by multiplicity)
# ---------------------------------------------------------------------------


@query(
    "duplication_spectrum",
    oracle="""
WITH tok AS (
  SELECT md5(text) AS h,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents),
grp AS (
  SELECT h, CAST(count(*) AS BIGINT) AS copies,
         CAST(max(n_tok) AS BIGINT) AS tok_each
  FROM tok GROUP BY 1),
spec AS (
  SELECT copies,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(copies) AS BIGINT) AS n_docs,
         CAST(sum(copies * tok_each) AS BIGINT) AS tok_total,
         CAST(sum((copies - 1) * tok_each) AS BIGINT) AS tok_removable
  FROM grp GROUP BY 1),
tot AS (SELECT CAST(sum(tok_total) AS BIGINT) AS corpus_tok FROM spec)
SELECT copies, n_groups, n_docs, tok_total, tok_removable,
       CAST(tok_removable AS DOUBLE) / tot.corpus_tok AS removable_share
FROM spec CROSS JOIN tot
ORDER BY copies
""",
)
def duplication_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate multiplicity spectrum — the dedup ROI statement:
    for each copy-count k, how many content groups occur exactly k
    times, the docs and tokens they hold, and the token mass dedup
    would REMOVE (k-1 copies per group) as a share of the corpus. The
    spectrum is what decides whether dedup is worth a pass at all and
    which multiplicity band pays for it (one 1M-copy boilerplate page
    vs a million 2-copy pages are very different jobs) — the
    read-before-you-run complement to dup_rate_metric's single number
    and dedup_mixture_shift's per-source drift.

    Exactness: pure integer counting over content hashes; one final
    division.

    Scale: one fixed-width hash groupBy (text never shuffles), then a
    multiplicity-domain groupBy — both map-side combinable."""
    tok = load(spark, sf_dir, "documents").select(
        F.md5("text").alias("h"),
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
            )
        )
        .cast("long")
        .alias("n_tok"),
    )
    grp = tok.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("copies"),
        F.max("n_tok").cast("long").alias("tok_each"),
    )
    spec = grp.groupBy("copies").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("copies").cast("long").alias("n_docs"),
        F.sum(F.col("copies") * F.col("tok_each")).cast("long").alias(
            "tok_total"
        ),
        F.sum((F.col("copies") - 1) * F.col("tok_each"))
        .cast("long")
        .alias("tok_removable"),
    )
    tot = spec.agg(F.sum("tok_total").cast("long").alias("corpus_tok"))
    return (
        spec.crossJoin(F.broadcast(tot))
        .select(
            "copies",
            "n_groups",
            "n_docs",
            "tok_total",
            "tok_removable",
            (
                F.col("tok_removable").cast("double") / F.col("corpus_tok")
            ).alias("removable_share"),
        )
        .orderBy("copies")
    )


# ---------------------------------------------------------------------------
# inter-rater agreement: Gopher rules vs the learned classifier
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    from ecommerce_lakehouse_spark.queries import ORACLES
    from ecommerce_lakehouse_spark.queries.llm10 import _QC_CTE

    # compose the two REGISTERED artifacts verbatim: the classifier's
    # held-out scoring CTE chain and the gopher oracle (nested WITH in
    # a CTE body — supported by DuckDB)
    gopher = ORACLES["gopher_quality_flags"]
    return (
        _QC_CTE
        + f""",
gop AS ({gopher}),
pair AS (
  SELECT t.doc_id,
         CASE WHEN t.score > 0 THEN 1 ELSE 0 END AS clf,
         CASE WHEN g.passes_gopher THEN 1 ELSE 0 END AS gph
  FROM test t JOIN gop g USING (doc_id)),
cm AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(clf * gph) AS BIGINT) AS n11,
         CAST(sum(clf * (1 - gph)) AS BIGINT) AS n10,
         CAST(sum((1 - clf) * gph) AS BIGINT) AS n01,
         CAST(sum((1 - clf) * (1 - gph)) AS BIGINT) AS n00
  FROM pair)
SELECT n, n11, n10, n01, n00,
       CAST(n11 + n00 AS DOUBLE) / n AS observed_agreement,
       CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
            AS DOUBLE) / (n * n) AS expected_agreement,
       CAST(n * (n11 + n00)
            - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
            AS DOUBLE)
         / (n * n
            - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
         AS cohen_kappa
FROM cm
"""
    )


@query("quality_rater_agreement", oracle=_kappa_oracle())
def quality_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the engine's two quality
    raters on the held-out split: the rule-based Gopher composite and
    the learned hashed-NB classifier. Raw agreement flatters any pair
    of raters that both say "pass" most of the time; kappa subtracts
    the chance-agreement floor — the standard before trusting EITHER
    filter as ground truth for the other (and the consistency number a
    two-stage rules-then-model curation pipeline reports). Completes
    the classifier-eval shelf: confusion counts, calibration curve,
    isotonic fit, now rater agreement.

    Exactness: the 2x2 table is exact integer counting; kappa collapses
    algebraically to ONE division of exact integers
    (n*(n11+n00) - chance) / (n^2 - chance) — no intermediate float.

    Scale: both raters are existing one-pass bodies (the classifier
    join is broadcast weights; the gopher flags are row-local); the
    agreement is one 1-row reduce."""
    from ecommerce_lakehouse_spark.queries import REGISTRY
    from ecommerce_lakehouse_spark.queries.llm10 import _qc_test_scores

    clf = _qc_test_scores(spark, sf_dir).select(
        "doc_id", (F.col("score") > 0).cast("int").alias("clf")
    )
    gph = REGISTRY["gopher_quality_flags"](spark, sf_dir).select(
        "doc_id", F.col("passes_gopher").cast("int").alias("gph")
    )
    pair = clf.join(gph, "doc_id")
    cm = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("clf") * F.col("gph")).cast("long").alias("n11"),
        F.sum(F.col("clf") * (1 - F.col("gph"))).cast("long").alias("n10"),
        F.sum((1 - F.col("clf")) * F.col("gph")).cast("long").alias("n01"),
        F.sum((1 - F.col("clf")) * (1 - F.col("gph")))
        .cast("long")
        .alias("n00"),
    )
    chance = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return cm.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        ((F.col("n11") + F.col("n00")).cast("double") / F.col("n")).alias(
            "observed_agreement"
        ),
        (chance.cast("double") / (F.col("n") * F.col("n"))).alias(
            "expected_agreement"
        ),
        (
            (F.col("n") * (F.col("n11") + F.col("n00")) - chance).cast(
                "double"
            )
            / (F.col("n") * F.col("n") - chance)
        ).alias("cohen_kappa"),
    )


# ---------------------------------------------------------------------------
# label-grounded retrieval quality: precision@k + MRR per label
# ---------------------------------------------------------------------------

_LP_K = 10
_LP_NQ = 50  # query set: vec_id < 50 (the knn convention, wider)


@query(
    "knn_label_precision",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
                                            x -> x * x), 'sum')) AS nrm
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < {_LP_NQ}),
pairs AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         list_aggregate(list_transform(range(1, len(q.emb) + 1),
                                       i -> q.emb[i] * c.emb[i]), 'sum')
           / (q.nrm * c.nrm) AS sim
  FROM q, v c WHERE c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, q_label,
         CAST(c_label = q_label AS INT) AS rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM pairs),
perq AS (
  SELECT query_id, q_label,
         CAST(sum(rel) AS BIGINT) AS n_rel,
         CAST(COALESCE(min(CASE WHEN rel = 1
           THEN CAST(round(1e9 / rn) AS BIGINT) END), 0) AS BIGINT)
           AS rr_nanos
  FROM ranked WHERE rn <= {_LP_K}
  GROUP BY 1, 2)
SELECT q_label AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(n_rel) AS BIGINT) AS n_relevant_in_topk,
       CAST(sum(n_rel) AS DOUBLE) / (count(*) * {_LP_K})
         AS precision_at_k,
       CAST(sum(rr_nanos) AS DOUBLE) / count(*) / 1e9 AS mrr
FROM perq GROUP BY 1
""",
)
def knn_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRINSIC retrieval quality: precision@{k} and MRR of brute-force
    cosine top-{k} against the LABEL ground truth (a neighbor is
    relevant iff it shares the query's label), per label over the first
    {nq} query vectors. The recall@k / nDCG audits grade the ANN
    indexes against exact kNN (does the index approximate the metric);
    this grades the METRIC against labels (does cosine proximity mean
    semantic sameness) — the upstream question that decides whether
    embedding dedup/search operate on signal at all.

    Exactness: dot products are the ordered knn folds; relevance counts
    are exact integers; each reciprocal rank rounds ONCE to nanos (an
    exact division of small ints) and accumulates as BIGINT — never an
    order-dependent float sum. MRR uses rank WITHIN top-{k} (0 when no
    relevant neighbor surfaces), the cutoff convention.

    Scale: the knn plan — bounded query set broadcasts, corpus streams,
    per-query top-{k} via window partitioned by query.""".format(
        k=_LP_K, nq=_LP_NQ
    )
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(
        F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    v = e.withColumn("nrm", F.sqrt(sq))
    q = v.filter(F.col("vec_id") < _LP_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "q_label",
        (F.col("label") == F.col("q_label")).cast("int").alias("rel"),
        (dot / (F.col("q_nrm") * F.col("nrm"))).alias("sim"),
        "vec_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    perq = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LP_K)
        .groupBy("query_id", "q_label")
        .agg(
            F.sum("rel").cast("long").alias("n_rel"),
            F.coalesce(
                F.min(
                    F.when(
                        F.col("rel") == 1,
                        F.expr("CAST(round(1e9 / rn) AS BIGINT)"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("rr_nanos"),
        )
    )
    return perq.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_rel").cast("long").alias("n_relevant_in_topk"),
        (
            F.sum("n_rel").cast("double") / (F.count(F.lit(1)) * _LP_K)
        ).alias("precision_at_k"),
        (F.sum("rr_nanos").cast("double") / F.count(F.lit(1)) / 1e9).alias(
            "mrr"
        ),
    )


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition of the quality classifier
# ---------------------------------------------------------------------------


def _brier_oracle() -> str:
    from ecommerce_lakehouse_spark.queries.llm10 import _QC_CTE

    return (
        _QC_CTE
        + """,
pm AS (
  SELECT doc_id, CASE WHEN label = 'pass' THEN 1 ELSE 0 END AS o,
         CAST(round(1e6 / (1 + power(2.0, -score / 1e9))) AS BIGINT)
           AS p_micro,
         least(greatest(CAST(floor(score / 2000000000.0) AS BIGINT), -5), 5)
           AS bs
  FROM test),
bk AS (
  SELECT bs, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(o) AS BIGINT) AS n_pass,
         CAST(sum(p_micro) AS BIGINT) AS sp,
         CAST(sum(p_micro * p_micro) AS BIGINT) AS spp,
         CAST(sum(o * p_micro) AS BIGINT) AS spo
  FROM pm GROUP BY 1),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n_pass) AS BIGINT) AS np
  FROM bk),
arr AS (
  SELECT list_sort(list(struct_pack(bs := bs, n := n, n_pass := n_pass,
                                    sp := sp, spp := spp, spo := spo)))
           AS a, max(tot.nn) AS nn, max(tot.np) AS np
  FROM bk CROSS JOIN tot),
dec AS (
  SELECT a, nn, np,
         CAST(np AS DOUBLE) / nn AS obar,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(a, x ->
           (CAST(x.spp AS DOUBLE) / 1e12
            - 2 * CAST(x.spo AS DOUBLE) / 1e6
            + CAST(x.n_pass AS DOUBLE)))), (s, x) -> s + x) / nn AS brier,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(a, x ->
           x.n * (CAST(x.sp AS DOUBLE) / x.n / 1e6
                  - CAST(x.n_pass AS DOUBLE) / x.n)
               * (CAST(x.sp AS DOUBLE) / x.n / 1e6
                  - CAST(x.n_pass AS DOUBLE) / x.n))), (s, x) -> s + x)
           / nn AS reliability,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(a, x ->
           x.n * (CAST(x.n_pass AS DOUBLE) / x.n - CAST(np AS DOUBLE) / nn)
               * (CAST(x.n_pass AS DOUBLE) / x.n
                  - CAST(np AS DOUBLE) / nn))), (s, x) -> s + x)
           / nn AS resolution
  FROM arr)
SELECT u.bs AS bucket, u.n AS n_docs,
       CAST(u.n_pass AS DOUBLE) / u.n AS empirical_rate,
       CAST(u.sp AS DOUBLE) / u.n / 1e6 AS mean_forecast,
       round(d.brier, 9) AS brier,
       round(d.reliability, 9) AS reliability,
       round(d.resolution, 9) AS resolution,
       round(d.obar * (1 - d.obar), 9) AS uncertainty
FROM dec d, (SELECT unnest(a) AS u FROM dec) q
"""
    )


@query("brier_decomposition", oracle=_brier_oracle())
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition for the quality
    classifier's held-out probabilities: per score bucket the empirical
    pass rate and mean forecast, plus the corpus-level BRIER =
    RELIABILITY - RESOLUTION + UNCERTAINTY split repeated on every row —
    reliability is the calibration gap the isotonic fit removes,
    resolution is the discrimination no recalibration can add, and
    uncertainty is the floor set by the base rate. Completes the
    classifier-eval shelf with the proper-scoring-rule view: the curve
    shows WHERE calibration fails, kappa shows rater consistency, the
    decomposition says how much of the error is fixable.

    Exactness: log-odds scores convert to probabilities with one pow()
    per doc rounded ONCE to exact integer micros (the log2-nanos
    discipline), so every corpus sum (sum p, sum p^2, sum p*o) is an
    exact BIGINT — never an order-dependent float sum; the bucket-level
    decomposition folds over the bucket-sorted <=11-row array in-row.
    Headroom: sum(p_micro^2) stays under 2^63 to ~9e6 held-out docs —
    promote to DECIMAL(38) past that.

    Scale: one broadcast-weight scoring pass (the shared classifier
    body), one bucket-domain groupBy, one in-row fold."""
    from ecommerce_lakehouse_spark.queries.llm10 import _qc_test_scores

    t = _qc_test_scores(spark, sf_dir)
    pm = t.select(
        F.when(F.col("label") == "pass", 1).otherwise(0).alias("o"),
        F.expr(
            "CAST(round(1e6 / (1 + power(2.0, -score / 1e9))) AS BIGINT)"
        ).alias("p_micro"),
        F.least(
            F.greatest(
                F.floor(F.col("score") / F.lit(2000000000.0)).cast("long"),
                F.lit(-5).cast("long"),
            ),
            F.lit(5).cast("long"),
        ).alias("bs"),
    )
    bk = pm.groupBy("bs").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o").cast("long").alias("n_pass"),
        F.sum("p_micro").cast("long").alias("sp"),
        F.sum(F.col("p_micro") * F.col("p_micro")).cast("long").alias("spp"),
        F.sum(F.col("o") * F.col("p_micro")).cast("long").alias("spo"),
    )
    arr = bk.agg(
        F.expr(
            "array_sort(collect_list(struct(bs, n, n_pass, sp, spp, spo)))"
        ).alias("a"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("n_pass").cast("long").alias("np"),
    )
    dec = arr.selectExpr(
        "a",
        "nn",
        "np",
        "CAST(np AS DOUBLE) / nn AS obar",
        """aggregate(transform(a, x ->
  CAST(x.spp AS DOUBLE) / 1e12 - 2 * CAST(x.spo AS DOUBLE) / 1e6
  + CAST(x.n_pass AS DOUBLE)), CAST(0 AS DOUBLE), (s, x) -> s + x)
  / nn AS brier""",
        """aggregate(transform(a, x ->
  x.n * (CAST(x.sp AS DOUBLE) / x.n / 1e6 - CAST(x.n_pass AS DOUBLE) / x.n)
      * (CAST(x.sp AS DOUBLE) / x.n / 1e6
         - CAST(x.n_pass AS DOUBLE) / x.n)),
  CAST(0 AS DOUBLE), (s, x) -> s + x) / nn AS reliability""",
        """aggregate(transform(a, x ->
  x.n * (CAST(x.n_pass AS DOUBLE) / x.n - CAST(np AS DOUBLE) / nn)
      * (CAST(x.n_pass AS DOUBLE) / x.n - CAST(np AS DOUBLE) / nn)),
  CAST(0 AS DOUBLE), (s, x) -> s + x) / nn AS resolution""",
    )
    dec = dec.localCheckpoint(eager=False)
    return dec.select(
        F.explode("a").alias("u"),
        "obar",
        "brier",
        "reliability",
        "resolution",
    ).select(
        F.col("u.bs").alias("bucket"),
        F.col("u.n").alias("n_docs"),
        (F.col("u.n_pass").cast("double") / F.col("u.n")).alias(
            "empirical_rate"
        ),
        (F.col("u.sp").cast("double") / F.col("u.n") / 1e6).alias(
            "mean_forecast"
        ),
        F.round("brier", 9).alias("brier"),
        F.round("reliability", 9).alias("reliability"),
        F.round("resolution", 9).alias("resolution"),
        F.round(F.col("obar") * (1 - F.col("obar")), 9).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# source x quality independence (chi-square + Cramér's V)
# ---------------------------------------------------------------------------


def _sqi_oracle() -> str:
    from ecommerce_lakehouse_spark.queries import ORACLES

    gopher = ORACLES["gopher_quality_flags"]
    return f"""
WITH gop AS ({gopher}),
cell AS (
  SELECT d.source, CAST(g.passes_gopher AS INT) AS q,
         CAST(count(*) AS BIGINT) AS o
  FROM documents d JOIN gop g USING (doc_id)
  GROUP BY 1, 2),
mrg AS (
  SELECT s.source, qq.q, COALESCE(cell.o, 0) AS o
  FROM (SELECT DISTINCT source FROM cell) s
  CROSS JOIN (SELECT unnest([0, 1]) AS q) qq
  LEFT JOIN cell ON cell.source = s.source AND cell.q = qq.q),
rowm AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM mrg GROUP BY 1),
colm AS (SELECT q, CAST(sum(o) AS BIGINT) AS c FROM mrg GROUP BY 1),
nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM mrg),
arr AS (
  SELECT list_sort(list(struct_pack(source := m.source, q := m.q,
           o := m.o, r := rowm.r, c := colm.c))) AS a,
         max(nn.n) AS n,
         CAST(max(rc.k) AS BIGINT) AS n_sources
  FROM mrg m JOIN rowm USING (source) JOIN colm USING (q)
  CROSS JOIN nn
  CROSS JOIN (SELECT count(*) AS k FROM rowm) rc),
stat AS (
  SELECT n, n_sources,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(a, x -> CASE WHEN x.r = 0 OR x.c = 0
             THEN CAST(0 AS DOUBLE) ELSE
             (x.o - CAST(x.r AS DOUBLE) * x.c / n)
             * (x.o - CAST(x.r AS DOUBLE) * x.c / n)
             / (CAST(x.r AS DOUBLE) * x.c / n) END)),
           (s, x) -> s + x) AS chi2
  FROM arr)
SELECT n AS n_docs, n_sources,
       CAST((n_sources - 1) * 1 AS BIGINT) AS dof,
       round(chi2, 9) AS chi2,
       round(sqrt(chi2 / n), 9) AS cramers_v
FROM stat
"""


@query("source_quality_independence", oracle=_sqi_oracle())
def source_quality_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of SOURCE x gopher-quality with Cramér's
    V (Cramér 1946) — is document quality independent of provenance?
    The mixture-design input dedup_mixture_shift doesn't answer: a
    nonzero V means source weights double as quality weights, so tuning
    one silently moves the other. V normalizes chi-square to [0, 1]
    (for a 2-column table, V = sqrt(chi2/n)) — comparable across
    corpus sizes where the raw statistic is not. Extends the
    independence shelf (priority_status_independence) with the effect
    SIZE, not just the statistic. A degenerate margin (every document
    on one side of the quality gate, real at small SFs) contributes
    zero cells — chi2 = 0, V = 0, the correct "no evidence" reading.

    Exactness: observed counts and margins are exact integers; each
    cell's (O-E)^2/E uses E from one division; the 2x|sources| cell
    fold runs in-row over the cell-sorted array (never a distributed
    float sum); outputs round once.

    Scale: the gopher flags are row-local; the contingency table is
    domain-bounded (sources x 2) — one map-side groupBy then scalars."""
    from ecommerce_lakehouse_spark.queries import REGISTRY

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    gph = REGISTRY["gopher_quality_flags"](spark, sf_dir).select(
        "doc_id", F.col("passes_gopher").cast("int").alias("q")
    )
    cell = (
        docs.join(gph, "doc_id")
        .groupBy("source", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    # complete the grid (a source with zero fails must still contribute
    # its zero cell to the statistic)
    srcs = cell.select("source").distinct()
    grid = srcs.crossJoin(
        F.broadcast(
            cell.sparkSession.range(2).select(F.col("id").cast("int").alias("q"))
        )
    )
    mrg = grid.join(cell, ["source", "q"], "left").select(
        "source", "q", F.coalesce("o", F.lit(0)).cast("long").alias("o")
    )
    rowm = mrg.groupBy("source").agg(F.sum("o").cast("long").alias("r"))
    colm = mrg.groupBy("q").agg(F.sum("o").cast("long").alias("c"))
    arr = (
        mrg.join(rowm, "source")
        .join(F.broadcast(colm), "q")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(source, q, o, r, c)))"
            ).alias("a"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .selectExpr(
            "a",
            "aggregate(a, CAST(0 AS BIGINT), (s, x) -> s + x.o) AS n",
            "n_sources",
        )
    )
    stat = arr.selectExpr(
        "n",
        "n_sources",
        """aggregate(transform(a, x -> IF(x.r = 0 OR x.c = 0,
  CAST(0 AS DOUBLE),
  (x.o - CAST(x.r AS DOUBLE) * x.c / n)
  * (x.o - CAST(x.r AS DOUBLE) * x.c / n)
  / (CAST(x.r AS DOUBLE) * x.c / n))),
  CAST(0 AS DOUBLE), (s, x) -> s + x) AS chi2""",
    )
    return stat.select(
        F.col("n").alias("n_docs"),
        "n_sources",
        ((F.col("n_sources") - 1) * 1).cast("long").alias("dof"),
        F.round("chi2", 9).alias("chi2"),
        F.round(F.sqrt(F.col("chi2") / F.col("n")), 9).alias("cramers_v"),
    )
