"""Graph mining wave 2: link prediction and community detection.

Extends the co-purchase graph family (PageRank centrality, triangle
clustering, BFS/SSSP traversal, connected components) with the two
remaining everyday graph-ML primitives:

- **Adamic-Adar link prediction** — "which parts are NOT yet bought
  together but should be?" (the recommender-candidate generator);
- **Label propagation communities** — deterministic synchronous LPA
  (Raghavan 2007), the near-linear community detector that segments the
  catalog into co-purchase clusters finer than connected components.

Both run on the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets) (edge = part pair whose
co-order count clears that threshold), reusing part_cooccurrence's one-shuffle in-row
pair expansion — the thresholding that keeps degree, and therefore every
wedge/vote fan-out below, tractable on any corpus (see
triangle_copurchase's measured 33x edge / 1600x wedge blowup without it).

Determinism: LPA is pure integer label arithmetic (argmax by exact
(count, -label) struct comparison — lexicographic in both engines);
Adamic-Adar's only transcendental (1/ln degree) is rounded ONCE into
integer nanos per node and summed in BIGINT — the repo-wide discipline
for iterative/weighted float algorithms (see pagerank_copurchase).

Reference parity: the reference has no graph surface (its co-purchase
analysis stops at pair counting in docs/analytics examples); link
prediction and community detection extend the engine's graph family
beyond it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.graph import dense_graph_frame
from ecommerce_lakehouse_spark.operators.scale import iter_barrier, narrow_barrier
from ecommerce_lakehouse_spark.queries import query
from ecommerce_lakehouse_spark.tables import load

# RELATIVE minimum support (the frequent-itemset convention: support is
# a FRACTION of baskets, Agrawal & Srikant 1994): threshold =
# max(2, ceil(n_baskets * 2/150000)), calibrated so the three gated SFs
# keep the historical absolute floor of 2 while a 10x (or 1000x) corpus
# raises the cut proportionally — the property that keeps the graph's
# wedge count (and every wedge-enumerating consumer: Adamic-Adar,
# common-neighbors Jaccard, triangles, clustering coefficients) bounded
# as data grows instead of densifying quadratically. Measured: the
# r07 10x smoke's wedge joins fell from 36 s to ~2 s with identical
# results at every gated SF.
_SUPPORT_REL_NUM = 2.0
_SUPPORT_REL_DEN = 150000.0

_COPURCHASE_EDGES = f"""
lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem),
thr AS (SELECT greatest(CAST(2 AS BIGINT),
          CAST(ceil({_SUPPORT_REL_NUM} * n / {_SUPPORT_REL_DEN}) AS BIGINT))
          AS t FROM nb),
e AS (
  SELECT a.l_partkey AS s, b.l_partkey AS d
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)),
adj AS (SELECT s AS z, d AS nbr FROM e UNION ALL SELECT d, s FROM e)
"""


def _support_graph(spark: SparkSession, sf_dir: str, prune: bool = True):
    """(canonical s<d edges, symmetric adjacency) for the relative-support
    co-purchase graph; edge list localCheckpointed once — every graph
    consumer iterates/fans out over it.

    r09 (VERDICT r08 #1) — two edge-preserving cuts BEFORE the C(w,2)
    pair expansion, the one corpus-linear stage of the graph family:

    1. **Apriori endpoint prune** (Agrawal & Srikant 1994): an edge
       (s,d) needs >= t distinct orders containing BOTH parts, so each
       endpoint alone appears in >= t orders; the raw per-part row count
       upper-bounds that (within-order duplicates only inflate it), so
       parts with count(*) < t are dropped from baskets before
       expansion with provably identical surviving edges. The frequent
       set is broadcast-safe BY CONSTRUCTION at any corpus size:
       |frequent| <= total_rows / t, and t scales linearly with
       n_baskets (~= total_rows / avg_width), so the bound is
       ~ avg_width * 150000 / 2 rows (~300k longs, a few MB) whether
       the corpus is 1 GB or 100 TB. This is the long-tail win: on a
       real catalog most parts are rare and never survive the HAVING,
       so their pair fan-out was pure waste.
    2. **Collapse-first basket weighting** (the span_dedup_clean
       discipline, queries/llm5.py): identical part-sets expand ONCE,
       weighted by their order multiplicity — support(s,d) =
       sum(w) over distinct baskets containing both, exactly count(*)
       over per-order rows. This is the duplicated-corpus win (the
       100x replica smoke re-issues the same baskets 100x; measured
       pagerank 127.4 -> 35.5 s at 100x, BENCH_SCALE100_r09.json) and
       costs one extra map-side-
       combinable shuffle of one slim row per order when every basket
       is unique.

    Both cuts are Spark-side only — the DuckDB oracle CTE
    (_COPURCHASE_EDGES) is UNCHANGED, so oracle parity at every gated
    SF is itself the edge-set-invariance proof; ``prune=False`` keeps
    the un-pruned path alive for the direct invariance test
    (tests/test_scale_ops.py)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r09 opt (ONE corpus pass instead of three): the former shape paid
    # a countDistinct(l_orderkey) pass for the threshold, a
    # groupBy(l_partkey) pass for the Apriori frequencies, and the
    # per-order groupBy — three corpus-sized shuffles. Collapsing FIRST
    # (per-order part-sets, then identical baskets merged with their
    # multiplicity) makes every later quantity derivable from the
    # basket-collapsed frame: n_baskets = sum(bw) (orders with >= 1
    # lineitem, exactly countDistinct(l_orderkey)), part frequency =
    # sum(bw) over baskets containing the part (the number of DISTINCT
    # orders containing it — a TIGHTER Apriori bound than the raw row
    # count the old pass used, still >= support of any edge at that
    # endpoint, so the surviving edge set is provably unchanged), and
    # the pruned expansion runs over frequent-filtered basket arrays as
    # before. The one corpus-sized shuffle left is the per-order
    # groupBy every variant needs.
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # r10: every _support_graph consumer is now a SINGLE action (the
    # iterative ones fold their rounds in-row), so the barriers are
    # LAZY — the shared RDD still computes exactly once inside that one
    # action (all branches embed the same checkpointed RDD), but the
    # 6-9 separate eager build jobs and their driver syncs are gone
    # (measured: pagerank build phase was ~3.9 s of job wall + driver
    # gaps at sf0.1 before this change; see OPTIMIZATION_r10.md).
    baskets0 = (
        per_order.groupBy("parts")
        .agg(F.count(F.lit(1)).alias("bw"))
        .transform(lambda d: iter_barrier(d, eager=False))
    )
    thr = baskets0.agg(
        F.greatest(
            F.lit(2).cast("long"),
            F.ceil(
                F.sum("bw") * _SUPPORT_REL_NUM / _SUPPORT_REL_DEN
            ).cast("long"),
        ).alias("t")
    ).transform(lambda d: iter_barrier(d, eager=False))
    # barrier the 1-row threshold: it feeds TWO broadcast consumers (the
    # Apriori freq filter and the edge support filter); un-barriered,
    # each consumer would embed and re-run the checkpoint-scan agg
    # subtree — one task wave per consumer over the collapsed frame
    baskets = baskets0.filter(F.size("parts") >= 2)
    if prune:
        freq = (
            baskets0.select(F.explode("parts").alias("p"), "bw")
            .groupBy("p")
            .agg(F.sum("bw").alias("pw"))
            .crossJoin(F.broadcast(thr))
            .filter(F.col("pw") >= F.col("t"))
            .select("p")
        )
        baskets = (
            baskets.select("parts", "bw", F.explode("parts").alias("p"))
            .join(F.broadcast(freq), "p")
            .groupBy("parts", "bw")
            .agg(F.sort_array(F.collect_list("p")).alias("fparts"))
            .select(F.col("fparts").alias("parts"), "bw")
            .filter(F.size("parts") >= 2)
        )
    # pair expansion as chained Generate operators (posexplode then
    # explode of the tail slice) rather than a flatten(transform(...))
    # lambda tree: generators pipeline row-by-row while the lambda form
    # materializes each basket's full C(w,2) struct array before the
    # explode — the same rewrite measured 8x on the triple expansion
    # (queries/mining.py frequent_triple_itemsets)
    p1 = baskets.select(
        "parts", "bw", F.posexplode("parts").alias("i", "s")
    )
    p2 = p1.select(
        "s",
        "bw",
        F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("d"),
    )
    e = (
        p2.groupBy("s", "d")
        .agg(F.sum("bw").alias("w"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("t"))
        .select("s", "d")
        # support-bounded edge list: narrow width (task-count hygiene
        # for the many control-plane consumers), lazy because every
        # consumer is single-action (see the baskets0 comment above)
        .transform(lambda d: narrow_barrier(d, eager=False))
    )
    adj = e.select(F.col("s").alias("z"), F.col("d").alias("nbr")).union(
        e.select(F.col("d").alias("z"), F.col("s").alias("nbr"))
    )
    return e, adj


@query(
    "adamic_adar_links",
    oracle=f"""
WITH {_COPURCHASE_EDGES},
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
wt AS (
  SELECT z,
         CAST(round(1000000000.0 / ln(CAST(dg AS DOUBLE))) AS BIGINT) AS wz
  FROM deg WHERE dg >= 2),
wedge AS (
  SELECT a1.nbr AS u, a2.nbr AS v, wt.wz
  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.nbr < a2.nbr
  JOIN wt ON wt.z = a1.z),
aa AS (
  SELECT u, v, CAST(sum(wz) AS BIGINT) AS aa_nanos,
         CAST(count(*) AS BIGINT) AS n_common
  FROM wedge GROUP BY 1, 2),
cand AS (
  SELECT aa.* FROM aa ANTI JOIN e ON aa.u = e.s AND aa.v = e.d)
SELECT u AS part_a, v AS part_b, aa_nanos, n_common
FROM cand ORDER BY aa_nanos DESC, part_a, part_b LIMIT 20
""",
)
def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets):
    for part pairs NOT currently co-purchased, score = sum over common
    neighbors z of 1/ln(deg(z)) (Adamic & Adar 2003 — a rare shared
    neighbor is stronger evidence than a promiscuous hub), top-20
    predicted links. This is the candidate generator behind "customers
    who buy A also tend to buy B" recommendations before any model.

    Determinism: the single transcendental, 1/ln(deg(z)), is rounded
    ONCE per node into integer NANOS (ln differs in the last ulp across
    engines; the nano-rounding absorbs it — the pagerank/llm6 rule) and
    wedge scores accumulate in exact BIGINT; ranking and the min-pair
    tiebreak are pure integer comparisons.

    Scale: wedges are generated per common-neighbor z by pairing z's
    neighbor list — the degree-ordered SUPPORT THRESHOLD on the edge set
    bounds deg(z), so per-z fan-out is bounded (unthresholded hubs are
    the known wedge bomb, see triangle_copurchase). The per-z pair
    expansion happens in-row after one groupBy(z) (no self-join
    shuffle); existing edges drop via an anti-join on the canonical
    (lo, hi) pair; top-20 is TakeOrdered, never a global sort."""
    e, adj = _support_graph(spark, sf_dir)
    nb = adj.groupBy("z").agg(F.sort_array(F.collect_set("nbr")).alias("nbrs"))
    wt = nb.filter(F.size("nbrs") >= 2).select(
        "z",
        "nbrs",
        F.round(F.lit(1000000000.0) / F.log(F.size("nbrs").cast("double")))
        .cast("long")
        .alias("wz"),
    )
    # chained Generate expansion (posexplode + tail-slice explode, r10):
    # generators pipeline row-by-row while the flatten(transform(...))
    # lambda tree materialized each node's full C(deg, 2) struct array
    # before the explode (the frequent_triple/graph-build rewrite,
    # measured 8x there)
    p1 = wt.select("wz", "nbrs", F.posexplode("nbrs").alias("i", "u"))
    wedge = p1.select(
        "wz",
        "u",
        F.explode(F.expr("slice(nbrs, i + 2, size(nbrs))")).alias("v"),
    )
    aa = wedge.groupBy("u", "v").agg(
        F.sum("wz").cast("long").alias("aa_nanos"),
        F.count(F.lit(1)).cast("long").alias("n_common"),
    )
    # broadcast the support-bounded edge list (r10): the anti-join's
    # RDD-scan side has no stats, so the planner picked a
    # SortMergeJoin-shaped anti-join otherwise (guide §3.1)
    cand = aa.join(
        F.broadcast(e),
        (aa["u"] == e["s"]) & (aa["v"] == e["d"]),
        "left_anti",
    )
    return (
        cand.select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "aa_nanos",
            "n_common",
        )
        .orderBy(F.desc("aa_nanos"), "part_a", "part_b")
        .limit(20)
    )


def _lpa_oracle() -> str:
    steps = []
    prev = "l0"
    for k in range(1, 5):
        steps.append(
            f"l{k} AS MATERIALIZED (\n"
            f"  SELECT z AS node,\n"
            f"         -(max(struct_pack(c := cnt, nl := -lbl)).nl) AS lbl\n"
            f"  FROM (SELECT a.z, l.lbl, count(*) AS cnt\n"
            f"        FROM adj a JOIN {prev} l ON a.nbr = l.node\n"
            f"        GROUP BY 1, 2) v\n"
            f"  GROUP BY 1)"
        )
        prev = f"l{k}"
    return (
        f"WITH {_COPURCHASE_EDGES},\n"
        "nodes AS (SELECT DISTINCT z AS node FROM adj),\n"
        "l0 AS (SELECT node, node AS lbl FROM nodes),\n"
        + ",\n".join(steps)
        + """
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       min(node) AS min_member, max(node) AS max_member
FROM l4 GROUP BY 1 ORDER BY n_members DESC, community
"""
    )


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007), 4 fixed rounds, on
    the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets): every node starts as its own
    label; each round it adopts its neighbors' most frequent label
    (tie -> smallest label). Communities segment the catalog into
    co-purchase clusters FINER than connected components (`neardup`'s CC
    collapses any bridge; LPA's majority vote does not cross weak
    bridges) — the classic near-linear community detector.

    Determinism for an iterative algorithm: labels are node ids; the
    vote argmax is max(struct(count, -label)) — exact integer
    lexicographic comparison in both engines — and rounds are a FIXED
    budget (4), unrolled as MATERIALIZED CTEs in the oracle (plain CTEs
    re-evaluate the graph build per round — the BFS oracle lesson).
    Synchronous updates with a deterministic tiebreak make every round a
    pure function of the last, so engines agree exactly.

    Scale (r10 opt, guide §1.2-1): the 4 synchronous rounds run as ONE
    in-row fold over the dense adjacency index (dense_graph_frame —
    valid because the support cut bounds the graph independent of the
    corpus, the kcore argument). Each round maps every node to the
    argmax-by-(count, -label) of its neighbors' labels, computed by a
    run-length scan over the SORTED neighbor-label array — ascending
    order means the FIRST maximal run wins, which is exactly the
    smallest-label tiebreak. The round-per-job form this replaces
    (per round: broadcast label join + groupBy votes + argmax +
    localCheckpoint) spent ~2 jobs/round of fixed cost against a
    few-thousand-row frame; the vote multiset and argmax are unchanged,
    so the per-round label tables are identical. Output is the bounded
    per-community rollup, not per-node rows."""
    _, adj = _support_graph(spark, sf_dir)
    dense = dense_graph_frame(adj)
    # state = index-aligned label array; per round, node i adopts the
    # most frequent label among adjx[i]'s entries (ties -> smallest),
    # via a single pass over the sorted label multiset: close each equal
    # run, keep it iff strictly more frequent than the best so far
    # (sorted ascending => on ties the earlier = smaller label stays).
    folded = dense.select(
        "nodes",
        F.expr(
            """
aggregate(sequence(1, 4),
  transform(nodes, n -> nullif(n, CAST(-1 AS BIGINT))),
  (lab, r) -> transform(adjx, ns ->
    aggregate(
      array_sort(transform(ns, j -> element_at(lab, j))),
      named_struct('cur', CAST(NULL AS BIGINT), 'cnt', 0,
                   'bl', CAST(NULL AS BIGINT), 'bc', 0),
      (st, x) -> IF(st.cur IS NOT NULL AND x = st.cur,
        named_struct('cur', st.cur, 'cnt', st.cnt + 1,
                     'bl', st.bl, 'bc', st.bc),
        named_struct('cur', x, 'cnt', 1,
          'bl', IF(st.cur IS NOT NULL AND st.cnt > st.bc, st.cur, st.bl),
          'bc', IF(st.cur IS NOT NULL AND st.cnt > st.bc, st.cnt, st.bc))),
      st -> IF(st.cnt > st.bc, st.cur, st.bl))))
""".strip()
        ).alias("lab"),
    )
    labels = folded.select(
        F.explode(F.arrays_zip("nodes", "lab")).alias("p")
    ).select(
        F.col("p.nodes").alias("node"), F.col("p.lab").alias("lbl")
    )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").alias("min_member"),
            F.max("node").alias("max_member"),
        )
        .orderBy(F.desc("n_members"), "community")
    )


@query(
    "copurchase_degree_profile",
    oracle=f"""
WITH {_COPURCHASE_EDGES},
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dg FROM adj GROUP BY 1),
hist AS (
  SELECT dg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1),
mle AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN dg >= 2
                  THEN CAST(round(ln(CAST(dg AS DOUBLE) / 2.0) * 1000000000)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS lsum,
         CAST(sum(CASE WHEN dg >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ntail
  FROM deg)
SELECT h.degree, h.n_nodes, m.n AS total_nodes,
       CASE WHEN m.lsum > 0
            THEN 1.0 + CAST(m.ntail AS DOUBLE)
                         / (CAST(m.lsum AS DOUBLE) / 1000000000.0)
       END AS powerlaw_alpha
FROM hist h, mle m ORDER BY h.degree
""",
)
def copurchase_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets) plus the
    continuous power-law MLE exponent alpha = 1 + n_tail / Σ ln(d/dmin)
    (Clauset-Shalizi-Newman 2009, dmin = 2): the shape diagnostic every
    graph-algorithm cost model starts from — a heavy power-law tail is
    what makes unthresholded wedge joins explode (the
    triangle_copurchase lesson), and alpha quantifies it.

    Determinism: the histogram is exact integer counting; each node's
    ln(d/2) — the only transcendental — is rounded ONCE into integer
    nanos and summed in BIGINT; alpha is a fixed-order double closed
    form over the exact totals.

    Scale: degrees come from one collapse of the symmetric edge list;
    the histogram is bounded by the distinct-degree domain; the MLE is
    a 1-row aggregate broadcast onto it."""
    _, adj = _support_graph(spark, sf_dir)
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    hist = deg.groupBy(F.col("dg").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    mle = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("dg") >= 2,
                F.round(
                    F.log(F.col("dg").cast("double") / F.lit(2.0))
                    * F.lit(1000000000)
                )
                .cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("lsum"),
        F.sum(F.when(F.col("dg") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("ntail"),
    )
    return (
        hist.join(F.broadcast(mle))
        .select(
            "degree",
            "n_nodes",
            F.col("n").alias("total_nodes"),
            F.when(
                F.col("lsum") > 0,
                F.lit(1.0)
                + F.col("ntail").cast("double")
                / (F.col("lsum").cast("double") / F.lit(1000000000.0)),
            ).alias("powerlaw_alpha"),
        )
        .orderBy("degree")
    )
