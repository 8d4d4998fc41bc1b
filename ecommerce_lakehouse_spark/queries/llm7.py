"""Training-data curation operators, wave 7: relevance retrieval (BM25),
register-based distinct sketching (HyperLogLog), EXACT set-similarity
join with AllPairs prefix filtering (the verifier-grade dedup join), the
end-to-end MinHash-LSH recall audit it enables, and multi-hop BFS over
the co-purchase graph.

Cross-engine float rules (see SNIPPETS.md / BASELINE.md): every
transcendental (ln) is rounded ONCE into integer nano-units before
reuse; per-row sums of rounded scores are exact BIGINT additions in
written order (never a float `sum()` whose association order differs
between engines); divisions of exact inputs ride unrounded (IEEE
division is bit-identical); powers of two are built with shiftleft, not
pow().
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.scale import iter_barrier, narrow_barrier
from ecommerce_lakehouse_spark.operators.text import ALPHA_TOKS_D, ALPHA_TOKS_S, WS_TOKS_D
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load

# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

# Fixed demo query: one rare term ("dup", df≈5% — high idf) and two
# common terms, so the score spread exercises the whole idf range.
_BM25_TERMS = ("dup", "window", "spark")

# Okapi BM25 (Robertson et al.), k1=1.2 b=0.75, idf = ln(1 + (N-df+.5)/(df+.5)).
# The per-term score is ONE shared expression template evaluated by both
# engines: identical operand order => identical IEEE doubles, rounded once
# into nano-units; the 3-term total is then exact BIGINT addition.
_BM25_IDF_N = (
    "CAST(round(ln(CAST(1 AS DOUBLE) + "
    "(CAST(n_docs - df_{t} AS DOUBLE) + CAST(0.5 AS DOUBLE)) / "
    "(CAST(df_{t} AS DOUBLE) + CAST(0.5 AS DOUBLE))) * 1e9, 0) AS BIGINT)"
)
_BM25_SCORE_N = (
    "CASE WHEN tf_{t} > 0 THEN CAST(round((("
    "(CAST(idf_n_{t} AS DOUBLE) / 1e9) * (CAST(tf_{t} AS DOUBLE) * CAST(2.2 AS DOUBLE))"
    ") / (CAST(tf_{t} AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) "
    "+ CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl)))) * 1e9, 0) AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END"
)


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    idf_cols = ", ".join(
        _BM25_IDF_N.format(t=t) + f" AS idf_n_{t}" for t in _BM25_TERMS
    )
    score_cols = ",\n         ".join(
        _BM25_SCORE_N.format(t=t) + f" AS s_{t}" for t in _BM25_TERMS
    )
    total = " + ".join(f"s_{t}" for t in _BM25_TERMS)
    nterms = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in _BM25_TERMS
    )
    return f"""
WITH w AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {ALPHA_TOKS_D} AS t FROM documents)),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         {df_cols}
  FROM w),
idf AS (SELECT *, {idf_cols} FROM st),
sc AS (
  SELECT doc_id, {", ".join(f"tf_{t}" for t in _BM25_TERMS)},
         {score_cols}
  FROM w CROSS JOIN idf),
tot AS (
  SELECT doc_id, CAST({total} AS BIGINT) AS bm25_nanos,
         CAST({nterms} AS INT) AS n_terms
  FROM sc)
SELECT doc_id, n_terms, bm25_nanos,
       CAST(bm25_nanos AS DOUBLE) / 1e9 AS bm25_score
FROM tot WHERE bm25_nanos > 0
ORDER BY bm25_nanos DESC, doc_id LIMIT 20
"""


@query("bm25_search", oracle=_bm25_oracle())
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance retrieval (Robertson & Zaragoza 2009) over
    the documents table for a fixed 3-term query — top-20 docs by score.
    This is the lexical-retrieval primitive of a training-data pipeline
    (quality-biased sampling, "find documents about X" corpus probes,
    retrieval-augmented filtering); it complements `tfidf_top_terms`
    (per-doc salient terms) and `trigram_index_search` (substring
    lookup) with ranked free-text relevance.

    Cross-engine determinism: each term's idf = ln(1+(N-df+0.5)/(df+0.5))
    is rounded ONCE into integer nanos; the per-(doc,term) score is one
    shared expression template (identical operand order in Spark and the
    oracle, so the IEEE doubles agree bit-for-bit) rounded into nanos;
    the document total is exact BIGINT addition of the three per-term
    nanos IN WRITTEN ORDER — no float sum() whose association order
    could differ. Ranking and the LIMIT tiebreak happen on the integer.

    Scale: tf/dl are computed map-side as array expressions (NO explode,
    NO (doc,term) shuffle — the term list is a query-time constant);
    corpus stats (N, avgdl, per-term df) are ONE single-row aggregate
    broadcast back; top-20 is TakeOrdered (per-partition heads, no
    global sort). Total cost: one token-array scan + a 1-row crossJoin +
    TakeOrdered — the same plan at 100 TB, with df/avgdl maintainable
    incrementally as corpus metadata."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(ALPHA_TOKS_S).alias("t"))
    w = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[
            F.expr(f"size(filter(t, x -> x = '{t}'))").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    st = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    idf = st.select("*", *[
        F.expr(_BM25_IDF_N.format(t=t)).alias(f"idf_n_{t}") for t in _BM25_TERMS
    ])
    sc = w.crossJoin(F.broadcast(idf)).select(
        "doc_id",
        *[F.expr(_BM25_SCORE_N.format(t=t)).alias(f"s_{t}") for t in _BM25_TERMS],
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
    )
    total = " + ".join(f"s_{t}" for t in _BM25_TERMS)
    nterms = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in _BM25_TERMS
    )
    return (
        sc.select(
            "doc_id",
            F.expr(f"CAST({nterms} AS INT)").alias("n_terms"),
            F.expr(f"CAST({total} AS BIGINT)").alias("bm25_nanos"),
        )
        .filter(F.col("bm25_nanos") > 0)
        .withColumn(
            "bm25_score", F.col("bm25_nanos").cast("double") / F.lit(1e9)
        )
        .select("doc_id", "n_terms", "bm25_nanos", "bm25_score")
        .orderBy(F.desc("bm25_nanos"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

# alpha_256 = 0.7213 / (1 + 1.079/256), embedded as its exact shortest
# round-trip decimal so both engines parse the identical double.
_HLL_ALPHA = repr(0.7213 / (1.0 + 1.079 / 256.0))


@query(
    "hll_distinct_sketch",
    oracle=f"""
WITH h AS (
  SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM orders),
reg AS (
  SELECT hv % 256 AS bucket,
         max(CASE WHEN hv // 256 > 0 THEN 53 - len(bin(hv // 256)) ELSE 53 END) AS m_reg
  FROM h GROUP BY 1),
agg AS (
  SELECT count(*) AS n_used,
         sum(CAST(1 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS sum_inv
  FROM reg),
est AS (
  SELECT 256 - n_used AS zeros,
         CAST({_HLL_ALPHA} AS DOUBLE) * 65536.0
           / (sum_inv + CAST(256 - n_used AS DOUBLE)) AS raw
  FROM agg),
exact AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders)
SELECT CAST(256 AS BIGINT) AS m,
       n_exact,
       CAST(zeros AS BIGINT) AS zero_registers,
       round(CASE WHEN raw <= 640.0 AND zeros > 0
                  THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                  ELSE raw END, 6) AS hll_estimate
FROM est CROSS JOIN exact
""",
)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) over the
    orders table's customer domain, p=8 (256 registers), with the exact
    count alongside so the query audits its own accuracy (expected
    relative error 1.04/sqrt(256) ≈ 6.5%). Complements
    `kmv_distinct_sketch`: KMV keeps the k smallest hash VALUES (O(k)
    VALUES of state, mergeable by set-union), HLL keeps max leading-zero
    RANKS per register (fixed 256 BYTES of state, mergeable by
    element-wise max — the sketch every warehouse ships as
    approx_count_distinct's engine). The small-range linear-counting
    correction (m·ln(m/V) when raw ≤ 2.5m and empty registers exist) is
    live code: sf0.001's ~150-customer domain takes that branch, sf0.01+
    takes the raw-estimator branch.

    Cross-engine determinism: the hash is md5 truncated to 60 bits (the
    one hash both engines compute identically); register ranks are pure
    integer arithmetic (bucket = hv%256, rank = 53−bit_length(hv÷256));
    2^−rank is built by BIGINT shiftleft + division — every term is an
    exact power of two, so the harmonic-mean SUM is exact in a double
    regardless of association order (partial sums are multiples of 2^−53
    below 256 — no rounding ever occurs, unlike a general float sum).
    Only ln() in the correction branch is transcendental; the estimate is
    rounded at 6dp on output.

    Scale: ONE map-side pass computes (bucket, rank); the shuffle is 256
    groups of partial maxes (bytes, map-side combined); sketch state is
    O(256) forever. The exact countDistinct rides along as the audit —
    at 100 TB you drop it and keep the sketch (that being the point)."""
    o = load(spark, sf_dir, "orders")
    h = o.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
    reg = (
        h.select(
            (F.col("hv") % 256).alias("bucket"),
            F.expr(
                "CASE WHEN hv DIV 256 > 0 THEN 53 - length(bin(hv DIV 256)) ELSE 53 END"
            ).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_reg"))
    )
    agg = reg.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(
            F.expr(
                "CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), m_reg) AS DOUBLE)"
            )
        ).alias("sum_inv"),
    )
    est = agg.select(
        (F.lit(256) - F.col("n_used")).alias("zeros"),
        (
            F.lit(float(_HLL_ALPHA))
            * F.lit(65536.0)
            / (F.col("sum_inv") + (F.lit(256) - F.col("n_used")).cast("double"))
        ).alias("raw"),
    )
    exact = o.agg(F.countDistinct("o_custkey").cast("long").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(256).cast("long").alias("m"),
        "n_exact",
        F.col("zeros").cast("long").alias("zero_registers"),
        F.round(
            F.when(
                (F.col("raw") <= 640.0) & (F.col("zeros") > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros").cast("double")),
            ).otherwise(F.col("raw")),
            6,
        ).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# exact set-similarity join (AllPairs prefix filtering) + LSH recall audit
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries import ORACLES as _ORACLES  # noqa: E402
from ecommerce_lakehouse_spark.queries.llm2 import minhash_lsh_pairs as _lsh_pairs  # noqa: E402

_SIM_TAU = 0.5  # Jaccard threshold; prefix math below is specialized to 1/2

_SIM_ORACLE = f"""
WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
t AS (SELECT doc_id, {WS_TOKS_D} AS toks FROM canon),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
       FROM t WHERE len(toks) >= 3),
sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh),
post AS (SELECT doc_id, n, unnest(shingles) AS s FROM sized),
dfreq AS (SELECT s, count(*) AS df FROM post GROUP BY 1),
ranked AS (SELECT doc_id, n, p.s,
                  row_number() OVER (PARTITION BY doc_id ORDER BY df, p.s) AS rn
           FROM post p JOIN dfreq USING (s)),
pref AS (SELECT * FROM ranked WHERE rn <= n - ((n + 1) // 2) + 1),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
v AS (SELECT doc_a, doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS c,
             sa.n + sb.n AS nn
      FROM cand JOIN sized sa ON cand.doc_a = sa.doc_id
                JOIN sized sb ON cand.doc_b = sb.doc_id)
SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_common,
       CAST(nn - c AS BIGINT) AS n_union,
       CAST(c AS DOUBLE) / (nn - c) AS jaccard
FROM v WHERE CAST(c AS DOUBLE) / (nn - c) >= {_SIM_TAU}
"""


@query("shingle_similarity_join", oracle=_SIM_ORACLE, confs=TINY_STAGE_CONFS)
def shingle_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= 0.5 over word-3-gram
    shingle sets (collapse-first canonical docs) via AllPairs/PPJoin
    prefix filtering (Bayardo et al. 2007, Xiao et al. 2008) — the
    verifier-grade dedup join: unlike minhash_lsh_pairs it misses
    NOTHING (no probabilistic recall), yet never compares all pairs.

    The prefix lemma: J(A,B) >= tau implies |A∩B| >= ceil(tau*|A|), and
    two sets sorted by a global token order whose intersection is that
    large MUST share a token within each side's first
    |A| - ceil(tau*|A|) + 1 tokens. So each doc indexes only that
    prefix of its shingles, rarest-first (global order = ascending
    document frequency, then shingle — rare tokens first shrinks hot
    posting lists most); candidate = pair sharing an INDEXED shingle on
    both sides; survivors are verified with the true intersection. At
    tau=1/2 the prefix is n - (n+1) DIV 2 + 1 shingles — integer
    arithmetic, identical in both engines.

    Scale: the posting index shuffles (shingle, doc) pairs ONCE for df
    counting and once for candidate generation — but only PREFIX
    postings enter the join, and the rarest-first order means the
    hottest shingles (the Σdf² blowup of a naive posting join) are
    indexed by almost no one. Verification joins slim id pairs back to
    the shingle arrays (two hash joins) and is O(candidates). The
    per-doc prefix rank is a window partitioned BY DOC (bounded by doc
    length, never a global sort). fuzzy_pairs_blocked applies this same
    lemma at edit-distance granularity; this operator is the
    set-overlap granularity the dedup literature verifies with."""
    d = load(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    sh = (
        canon.select(
            "doc_id", F.expr(r"split(trim(text), '\\s+')").alias("toks")
        )
        .filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(0, size(toks) - 3),"
                " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
            ).alias("shingles"),
        )
    )
    sized = sh.select("doc_id", "shingles", F.size("shingles").alias("n"))
    # the verify stage re-reads the arrays; the posting path reuses them
    # twice (df count + candidates) — one materialization serves all three
    sized = sized.localCheckpoint(eager=False)
    post = sized.select("doc_id", "n", F.explode("shingles").alias("s"))
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    ranked = (
        post.join(dfreq, "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .filter(F.expr("rn <= n - ((n + 1) DIV 2) + 1"))
        .select("doc_id", "s")
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"),
        F.col("n").alias("na"),
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("c", F.expr("size(array_intersect(sha, shb))"))
        .select(
            "doc_a",
            "doc_b",
            F.col("c").cast("long").alias("n_common"),
            (F.col("na") + F.col("nb") - F.col("c")).cast("long").alias("n_union"),
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _SIM_TAU)
    )


@query(
    "lsh_recall_eval",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_SIM_ORACLE})),
cand AS (SELECT doc_a, doc_b FROM ({_ORACLES["minhash_lsh_pairs"]})),
hit AS (
  SELECT t.doc_a, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS h
  FROM truth t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth,
         CAST(sum(h) AS BIGINT) AS n_hits
  FROM hit),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
SELECT n_truth, n_candidates, n_hits,
       CAST(n_hits AS DOUBLE) / n_truth AS recall
FROM agg CROSS JOIN nc
""",
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH recall audit: of the pairs the EXACT
    prefix-filtered similarity join proves are near-dups (Jaccard >=
    0.5), what fraction does the production minhash_lsh_pairs pipeline
    (collapse -> 32-hash signature -> 8x4 bands -> estimate filter)
    surface? Composes the two registered operators, so the oracle
    cross-checks them against each other — the companion of
    ann_recall_eval for the dedup (rather than embedding) index, and
    the number that tunes band shape before anyone trusts LSH dedup at
    scale.

    Scale: both inputs are near-dup pair sets (output-bounded); the
    join and single-row aggregate are control-plane-sized."""
    truth = shingle_similarity_join(spark, sf_dir).select("doc_a", "doc_b")
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b", F.lit(1).alias("h"))
    hit = truth.join(cand, ["doc_a", "doc_b"], "left")
    agg = hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.sum(F.coalesce("h", F.lit(0))).cast("long").alias("n_hits"),
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return agg.crossJoin(F.broadcast(nc)).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_truth")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# multi-hop BFS over the co-purchase graph
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4


def _bfs_oracle() -> str:
    """Unrolled BFS rounds as CTEs (DuckDB loop-free; the Spark side
    runs the same rounds imperatively).

    Every multi-referenced CTE is ``AS MATERIALIZED``: DuckDB inlines
    plain CTEs, so the r{k} -> r{k-1} x2 -> ... chain would otherwise
    re-evaluate ``edges`` (the lineitem self-join) 2^rounds times —
    measured: the inlined form spilled >80 GB of temp at sf0.1 while
    the materialized form finishes in seconds."""
    parts = []
    for k in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f"f{k} AS MATERIALIZED (SELECT DISTINCT e.d AS node FROM edges e "
            f"JOIN n{k-1} ON e.s = n{k-1}.node),\n"
            f"n{k} AS MATERIALIZED (SELECT node, {k} AS hop FROM f{k} "
            f"WHERE node NOT IN (SELECT node FROM r{k-1})),\n"
            f"r{k} AS MATERIALIZED "
            f"(SELECT * FROM r{k-1} UNION ALL SELECT * FROM n{k})"
        )
    last = f"r{_BFS_ROUNDS}"
    return (
        """
WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
edges AS MATERIALIZED (SELECT s, d FROM pr UNION ALL SELECT d, s FROM pr),
seed AS (SELECT min(s) AS node FROM edges),
n0 AS (SELECT node, 0 AS hop FROM seed),
r0 AS MATERIALIZED (SELECT * FROM n0),
"""
        + ",\n".join(parts)
        + f"""
SELECT CAST(hop AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM {last} GROUP BY 1
UNION ALL
SELECT -1, CAST(count(*) AS BIGINT), CAST(min(node) AS BIGINT)
FROM (SELECT s AS node FROM edges GROUP BY 1)
WHERE node NOT IN (SELECT node FROM {last})
HAVING count(*) > 0
"""
    )


@query("bfs_hops_copurchase", oracle=_bfs_oracle())
def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS from a deterministic seed part (the minimum part
    key) over the co-purchase graph: per-hop reach histogram for 4
    rounds plus the unreached remainder (hop = -1) — the "how connected
    is this catalog / how far does association spread" traversal
    primitive, completing the graph family (pagerank = importance,
    triangles = local density, neardup_clusters = components, BFS =
    distance).

    Scale: the frontier-based expansion is the standard distributed BFS
    — each round joins EDGES to the CURRENT FRONTIER only (never the
    full reached set), then anti-joins the reached table; rounds are
    O(diameter) shuffles. The frontier is broadcast per round (node ids
    only — catalog-sized; swap for a shuffle join past broadcast
    limits). Per-round localCheckpoint truncates lineage — without it
    round k re-executes the whole graph build k times (same measured
    pattern as pagerank_copurchase). Edge construction reuses the
    in-row pair expansion (one shuffle, no self-join). The oracle
    unrolls the same rounds as CTEs."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # chained Generate expansion (posexplode + tail-slice explode): the
    # graph_ml/frequent_triple rewrite — the flatten(transform(...))
    # lambda form materializes each basket's full C(w,2) struct array
    # before exploding it
    p1 = per_order.select("parts", F.posexplode("parts").alias("i", "s"))
    p2 = p1.select(
        "s", F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("d")
    )
    # r10: the whole bounded-round traversal runs as ONE action — every
    # barrier is LAZY, so each round's frontier/reached RDD still
    # computes exactly once (shared via the checkpoint cache across the
    # final action's plan branches) but the 2 eager jobs per round and
    # their driver syncs are gone; the round count is a fixed budget,
    # so the final plan stays bounded.
    pairs = p2.distinct().transform(lambda d: iter_barrier(d, eager=False))
    edges = pairs.union(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    seed = edges.agg(F.min("s").alias("node"))
    frontier = seed.withColumn("hop", F.lit(0)).transform(
        lambda d: narrow_barrier(d, eager=False)
    )
    reached = frontier
    for k in range(1, _BFS_ROUNDS + 1):
        nxt = (
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("s"))), "s"
            )
            .select(F.col("d").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(reached.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(k))
            .transform(lambda d: narrow_barrier(d, eager=False))
        )
        reached = reached.union(new).transform(
            lambda d: narrow_barrier(d, eager=False)
        )
        frontier = new
    hist = reached.groupBy("hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
    )
    unreached = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .join(reached.select("node"), "node", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .filter(F.col("n_nodes") > 0)
        .select(F.lit(-1).alias("hop"), "n_nodes", "min_node")
    )
    return hist.select(
        F.col("hop").cast("int").alias("hop"), "n_nodes", "min_node"
    ).union(unreached.select(F.col("hop").cast("int"), "n_nodes", "min_node"))
