"""LLM training-data pipeline, phase 9: SemDeDup-style semantic
deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication") — deterministic k-means over
the embedding corpus, then within-cluster cosine dedup with the
farthest-from-centroid keep rule.

This is the missing member of the dedup ladder next to the hyperplane-LSH
path (queries/llm3.py): LSH finds pairs that are near in *angle bucket*;
SemDeDup partitions the space globally (k-means) and only compares within
a cluster, which catches paraphrase-level duplicates that never collide
in any LSH band while keeping candidate generation bounded by cluster
size, never corpus size.

Cross-engine determinism for an ITERATIVE float algorithm (the same
discipline as pagerank_copurchase, queries/stats.py): every vector is
quantized ONCE into shifted integer micro-units (round((x + 1.0) * 1e6)
— the +1.0 shift keeps every component non-negative so half-up integer
division needs no sign handling; k-means is translation-invariant so the
shift changes no assignment), centroid init is the K md5-smallest
canonical vectors (the hash-sampled idiom of pq_encode_eval), Lloyd
assignment/update runs in pure BIGINT arithmetic (squared-L2 in integer
units; centroid components via exact half-up division
(2*sum + n) DIV (2*n)), and argmin ties break by cluster id. Both
engines therefore agree to the last digit after any number of rounds;
the oracle unrolls the same rounds as MATERIALIZED CTEs.

Exact-copy handling is collapse-first (the embedding_cosine_dups
discipline): identical vectors are grouped before clustering, k-means and
pair expansion run on canonical vectors only, and the disposition is
expanded back to members at the end (copies beyond the group's min id are
dropped by construction: an exact copy has equal centroid distance and a
smaller surviving id). 10x exact replication therefore cannot grow the
candidate pair set (tools/scale_smoke.py entry).

Reference parity: the reference pipeline dedups on business keys only
(/root/reference/src/processing/silver_layer.py — dropDuplicates); the
semantic family is the training-data extension this engine adds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ecommerce_lakehouse_spark.operators.kmeans import (
    assign_nearest,
    collect_seed_vectors,
    lloyd_rounds,
)
from ecommerce_lakehouse_spark.operators.lsh import (
    ANN_PLANES,
    EMBED_DIM,
    bucket_col,
    bucket_sql,
)
from ecommerce_lakehouse_spark.operators.scale import iter_barrier
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load

_SD_K = 16  # cluster count: literal shared with the oracle. At warehouse
# scale set K ~ N / target_cluster_size (SemDeDup uses 11k clusters for
# LAION-440M); the plan shape is K-independent.
_SD_ROUNDS = 4  # fixed Lloyd budget, matching the oracle's unrolled CTEs
_SD_TAU = 0.30  # cosine threshold for "semantic duplicate"
_SD_CAP = 2048  # skew guard: clusters larger than this (canonical
# vectors) skip pair expansion, loudly (cluster_capped=true) — the
# MH_BUCKET_CAP policy of operators/lsh.py applied to clusters.

_U_SQL = "list_transform(e, x -> CAST(round((x + 1.0) * 1000000) AS BIGINT))"

_SD_DIST = (
    "list_aggregate(list_transform(range(1, {dim} + 1),"
    " i -> (v.u[i] - c.c[i]) * (v.u[i] - c.c[i])), 'sum')"
).format(dim=EMBED_DIM)


def _sd_assign_sql(prev_c: str, name: str) -> str:
    """One Lloyd assignment: nearest centroid by integer squared-L2,
    ties by cluster id."""
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, cid, u, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS rn FROM (
      SELECT v.vec_id, c.cid, v.u, {_SD_DIST} AS dist
      FROM v CROSS JOIN {prev_c} c)) WHERE rn = 1)"""


def _sd_update_sql(asg: str, prev_c: str, name: str) -> str:
    """One Lloyd update: per-dimension mean in exact half-up integer
    division; a cluster that lost every vector keeps its old centroid."""
    return f"""{name} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM {prev_c} p LEFT JOIN (
    SELECT cid, list(comp ORDER BY i) AS c FROM (
      SELECT a.cid, dims.i,
             CAST((2 * sum(a.u[dims.i]) + count(*))
                  // (2 * count(*)) AS BIGINT) AS comp
      FROM {asg} a, dims GROUP BY a.cid, dims.i)
    GROUP BY cid) n ON p.cid = n.cid)"""


def _sd_rounds_sql() -> str:
    parts = []
    prev_c = "c0"
    for r in range(1, _SD_ROUNDS + 1):
        parts.append(_sd_assign_sql(prev_c, f"a{r}"))
        parts.append(_sd_update_sql(f"a{r}", prev_c, f"c{r}"))
        prev_c = f"c{r}"
    parts.append(_sd_assign_sql(prev_c, "af"))
    return ",\n".join(parts)


_SD_ORACLE = f"""
WITH g AS MATERIALIZED (
  SELECT min(vec_id) AS vec_id, list_sort(list(vec_id)) AS members,
         CAST(count(*) AS BIGINT) AS n_copies, embedding::DOUBLE[] AS e
  FROM embeddings GROUP BY embedding::DOUBLE[]
), v AS MATERIALIZED (
  SELECT vec_id, members, n_copies, e,
         sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm,
         {_U_SQL} AS u
  FROM g
), dims AS (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i),
c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cid, u AS c FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS rn, u
    FROM v) WHERE rn <= {_SD_K}
),
{_sd_rounds_sql()},
jx AS MATERIALIZED (
  SELECT a.vec_id, a.cid, a.dist, v.e, v.nrm, v.members, v.n_copies
  FROM af a JOIN v ON a.vec_id = v.vec_id
), sz AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS csize,
         CAST(sum(n_copies) AS BIGINT) AS esize
  FROM jx GROUP BY cid
), ed AS (
  SELECT x.vec_id AS va, CAST(sum(y.n_copies) AS BIGINT) AS dn,
         max(CASE WHEN y.dist > x.dist
                    OR (y.dist = x.dist AND y.vec_id < x.vec_id)
             THEN 1 ELSE 0 END) AS dropped
  FROM jx x
  JOIN jx y ON x.cid = y.cid AND x.vec_id <> y.vec_id
  JOIN sz s ON x.cid = s.cid AND s.csize <= {_SD_CAP}
  WHERE list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
            i -> x.e[i] * y.e[i]), 'sum') / (x.nrm * y.nrm) >= {_SD_TAU}
  GROUP BY x.vec_id
), ex AS (
  SELECT unnest(members) AS m, vec_id, cid, dist, n_copies,
         COALESCE(dn, 0) AS dn, COALESCE(dropped, 0) AS dropped
  FROM jx LEFT JOIN ed ON jx.vec_id = ed.va
)
SELECT ex.m AS vec_id, ex.cid AS cluster_id,
       CAST(ex.dist AS BIGINT) AS centroid_dist,
       s.esize AS cluster_size,
       CAST(ex.dn + ex.n_copies - 1 AS BIGINT) AS dup_neighbors,
       s.csize > {_SD_CAP} AS cluster_capped,
       (ex.m = ex.vec_id AND ex.dropped = 0) AS keep
FROM ex JOIN sz s ON ex.cid = s.cid
"""


@query("semantic_cluster_dups", oracle=_SD_ORACLE, confs=TINY_STAGE_CONFS)
def semantic_cluster_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup disposition, one row per vector: final
    k-means cluster, integer centroid distance, expanded cluster size,
    number of semantic-duplicate neighbors (cosine >= 0.30 within the
    cluster, exact copies included), the skew-cap flag, and the keep
    verdict (keep the copy farthest from its centroid; ties keep the
    smaller vec_id — the SemDeDup rule).

    Scale: k-means is the textbook distributed shape — assignment is a
    broadcast of the K-row centroid table (K*DIM bigints — KBs) against
    the corpus, the update is an explode to (cluster, dim) keys where
    map-side partial aggregation collapses every task's contribution to
    at most K*DIM rows before the shuffle, and each round is one job
    over a localCheckpoint barrier (the pagerank lesson: without it
    round k's broadcast re-executes rounds 1..k-1). Pair expansion is
    per-cluster, collapse-first, and capped (_SD_CAP) — candidates are
    bounded by cluster size * near-dup density, never corpus^2."""
    e = load(spark, sf_dir, "embeddings")
    g = e.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
    ed = F.col("embedding").cast("array<double>")
    sq = F.aggregate(
        F.transform(ed, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    v = g.select(
        "vec_id",
        "members",
        "n_copies",
        ed.alias("e"),
        F.sqrt(sq).alias("nrm"),
        F.transform(
            ed, lambda x: F.round((x + F.lit(1.0)) * 1000000).cast("long")
        ).alias("u"),
    ).transform(iter_barrier)

    # Lloyd loop via operators/kmeans.py: centroid state is
    # control-plane-sized BY DEFINITION (K*(EMBED_DIM+1) bigints, a few KB),
    # so init + rounds run as the BPE literal-replace pattern — one
    # aggregate-collect job per round, centroids re-entering as
    # literals — instead of the former per-round broadcast crossJoin +
    # centroid join + eager localCheckpoint chain (r09 opt: that shape
    # cost ~4 driver-planned jobs per round; this one costs 1 — see
    # OPTIMIZATION_r09.md). cid = seed list index, matching the
    # oracle's row_number()-1.
    cent = {
        (None, cid): u
        for cid, u in enumerate(collect_seed_vectors(v, "vec_id", "u", _SD_K))
    }
    cent = lloyd_rounds(
        v.select("vec_id", "u"), "u", cent, _SD_ROUNDS, EMBED_DIM
    )
    af = assign_nearest(v.select("vec_id", "u"), "u", cent).select(
        "vec_id", "cid", "dist"
    )
    jx = af.join(v, "vec_id").transform(iter_barrier)
    sz = jx.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("csize"),
        F.sum("n_copies").cast("long").alias("esize"),
    )
    xa = jx.select(
        F.col("vec_id").alias("va"),
        "cid",
        F.col("dist").alias("da"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    xb = jx.select(
        F.col("vec_id").alias("vb"),
        F.col("cid").alias("cidb"),
        F.col("dist").alias("db"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("n_copies").alias("kb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    edges = (
        xa.join(xb, (F.col("cid") == F.col("cidb")) & (F.col("va") != F.col("vb")))
        .join(
            F.broadcast(sz.filter(F.col("csize") <= _SD_CAP).select("cid")), "cid"
        )
        .filter(dot / (F.col("na") * F.col("nb")) >= F.lit(_SD_TAU))
        .groupBy("va")
        .agg(
            F.sum("kb").cast("long").alias("dn"),
            F.max(
                F.when(
                    (F.col("db") > F.col("da"))
                    | ((F.col("db") == F.col("da")) & (F.col("vb") < F.col("va"))),
                    1,
                ).otherwise(0)
            ).alias("dropped"),
        )
    )
    out = (
        jx.join(F.broadcast(sz), "cid")
        .join(edges, jx["vec_id"] == edges["va"], "left")
        .select(
            F.explode("members").alias("m"),
            "vec_id",
            "cid",
            "dist",
            "esize",
            "csize",
            "n_copies",
            F.coalesce("dn", F.lit(0)).alias("dn"),
            F.coalesce("dropped", F.lit(0)).alias("dropped"),
        )
    )
    return out.select(
        F.col("m").alias("vec_id"),
        F.col("cid").alias("cluster_id"),
        F.col("dist").alias("centroid_dist"),
        F.col("esize").alias("cluster_size"),
        (F.col("dn") + F.col("n_copies") - 1).cast("long").alias("dup_neighbors"),
        (F.col("csize") > _SD_CAP).alias("cluster_capped"),
        ((F.col("m") == F.col("vec_id")) & (F.col("dropped") == 0)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries import ORACLES as _ORACLES  # noqa: E402


def _mrl_oracle() -> str:
    return f"""
WITH knn AS ({_ORACLES['embedding_knn_bruteforce']}),
ms AS (SELECT unnest([16, 32]) AS m),
v AS (
  SELECT ms.m, vec_id, embedding[1:ms.m]::DOUBLE[] AS emb
  FROM embeddings, ms),
vn AS (
  SELECT m, vec_id, emb,
         sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm
  FROM v),
qv AS (SELECT * FROM vn WHERE vec_id < 10),
pairs AS (
  SELECT qv.m, qv.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_aggregate(list_transform(range(1, len(qv.emb) + 1),
                        i -> qv.emb[i] * c.emb[i]), 'sum')
           / (qv.nrm * c.nrm) AS sim
  FROM qv JOIN vn c ON qv.m = c.m AND c.vec_id != qv.vec_id),
pre AS (
  SELECT m, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY m, query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM pairs) WHERE rn <= 5),
hits AS (
  SELECT p.m, CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM pre p LEFT JOIN knn k
    ON p.query_id = k.query_id AND p.neighbor_id = k.neighbor_id)
SELECT m AS prefix_dim, count(*) AS n_pairs,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_5
FROM hits GROUP BY 1 ORDER BY 1
"""


@query("matryoshka_prefix_recall", oracle=_mrl_oracle())
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval audit (Kusupati et al. 2022, "Matryoshka
    Representation Learning"): truncate every embedding to its first
    16 / 32 of 64 dimensions, renormalize implicitly via the prefix
    norm, run brute-force cosine top-5 in the truncated space, and
    report recall@5 against the full-dimension exact top-5 — the
    accept/reject number for serving shorter vectors (a 4x/2x memory
    and FLOPs cut that MRL-trained models are built for). Completes the
    vector-compression audit ladder next to SQ8 (precision cut), PQ
    (codebook cut) and IVF (search-space cut): this is the DIMENSION
    cut.

    Determinism: prefix slicing is positional; dot products are in-row
    positional folds over bit-identical doubles; ranking ties break by
    neighbor_id; the recall division's inputs are exact integers — no
    rounding anywhere (the sq8_recall_eval contract).

    Scale: the query side (queries x 2 prefix lengths) broadcasts; the
    corpus side streams with NO extra shuffle (the prefix variants are
    an in-row slice, exploded map-side); per-(m, query) top-5 via
    bounded window; the recall join touches queries x k rows. The
    ground-truth CTE is the registered knn query — engines cross-check
    composed pipelines end to end."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("full")
    )
    ms = spark.range(1).select(
        F.explode(F.array(F.lit(16), F.lit(32))).alias("m")
    )
    v = e.join(F.broadcast(ms)).select(
        "m", "vec_id", F.slice("full", 1, F.col("m")).alias("emb")
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    vn = v.withColumn("nrm", F.sqrt(sq(F.col("emb"))))
    qv = vn.filter(F.col("vec_id") < 10).select(
        F.col("m").alias("qm"),
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    pairs = vn.join(
        F.broadcast(qv),
        (F.col("m") == F.col("qm")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("sim", dot / (F.col("q_nrm") * F.col("nrm")))
    w = Window.partitionBy("m", "query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    pre = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("m", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    from ecommerce_lakehouse_spark.queries.llm import (
        embedding_knn_bruteforce as _knn_fn,
    )

    knn = _knn_fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = pre.join(F.broadcast(knn), ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy(F.col("m").alias("prefix_dim"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
            ).alias("recall_at_5"),
        )
        .orderBy("prefix_dim")
    )


# ---------------------------------------------------------------------------
# Label-centroid similarity (embedding-space class separation)
# ---------------------------------------------------------------------------


@query(
    "label_centroid_similarity",
    oracle="""
WITH dims AS (
  SELECT label, u.i,
         CAST(round((u.x + 1.0) * 1000000) AS BIGINT) AS xm
  FROM embeddings,
       unnest(list_transform(range(1, len(embedding) + 1),
              i -> {'i': i, 'x': embedding[i]::DOUBLE})) AS t(u)),
cent AS (
  SELECT label, i,
         CAST((2 * sum(xm) + count(*)) // (2 * count(*)) AS BIGINT)
           - 1000000 AS c,
         count(*) AS n
  FROM dims GROUP BY 1, 2),
vecs AS (
  SELECT label, list(c ORDER BY i) AS c, min(n) AS n
  FROM cent GROUP BY 1),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.n AS n_a, b.n AS n_b,
         list_aggregate(list_transform(range(1, len(a.c) + 1),
                        i -> a.c[i] * b.c[i]), 'sum') AS dot,
         list_aggregate(list_transform(a.c, x -> x * x), 'sum') AS na2,
         list_aggregate(list_transform(b.c, x -> x * x), 'sum') AS nb2
  FROM vecs a JOIN vecs b ON a.label < b.label)
SELECT label_a, label_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
         AS centroid_cosine
FROM pairs ORDER BY label_a, label_b
""",
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class-separation audit: the cosine similarity
    between every pair of per-label centroids — the drift/leakage
    monitor for an embedding pipeline (two classes whose centroids sit
    near cosine 1 are indistinguishable to any downstream linear probe;
    a centroid that moves between corpus snapshots signals upstream
    model or data drift). Complements `semantic_cluster_dups` (which
    discovers structure) by auditing the LABELED structure.

    Determinism: each component is quantized ONCE into shifted integer
    micro-units (round((x+1)·1e6) — the llm9 k-means idiom) and summed
    in exact BIGINT; centroid components are exact half-up integer
    division, unshifted back by 1e6; dot products and squared norms of
    the 64-dim integer centroids are exact BIGINT folds; the final
    cosine is the only float expression, identical order both engines.

    Scale: one map-side collapse to (label × 64 dims) rows regardless
    of corpus size; the pairwise stage is labels² (bounded by the label
    vocabulary) over broadcast 64-element arrays."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.round((F.col("xf").cast("double") + F.lit(1.0)) * 1000000)
        .cast("long")
        .alias("xm"),
    )
    cent = dims.groupBy("label", "i").agg(
        (
            F.expr("(2 * sum(xm) + count(*)) DIV (2 * count(*))").cast("long")
            - 1000000
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    vecs = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("c"),
        F.min("n").alias("n"),
    )
    a = vecs.select(
        F.col("label").alias("label_a"), F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = vecs.select(
        F.col("label").alias("label_b"), F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    foldl = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b")).select(
        "label_a",
        "label_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        foldl(F.zip_with("ca", "cb", lambda x, y: x * y)).alias("dot"),
        foldl(F.transform("ca", lambda x: x * x)).alias("na2"),
        foldl(F.transform("cb", lambda x: x * x)).alias("nb2"),
    )
    return pairs.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        (
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
        ).alias("centroid_cosine"),
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# NDCG audit of the LSH ANN ranking
# ---------------------------------------------------------------------------

# Position discounts 1/log2(p+1) and the ideal DCG for gains 10..1, as
# repr literals so both engines use bit-identical constants.
_NDCG_K = 10
_NDCG_DISC = [
    "1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
    "0.38685280723454163", "0.3562071871080222", "0.3333333333333333",
    "0.31546487678572877", "0.3010299956639812", "0.2890648263178879",
]
_NDCG_IDCG = "29.9661092489406"


def _ndcg_oracle() -> str:
    disc_list = "[" + ", ".join(_NDCG_DISC) + "]"
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
              'sum')) AS nrm
  FROM embeddings),
bv AS (SELECT vec_id, emb, nrm, ({bucket_sql(ANN_PLANES)}) AS bucket FROM v),
q AS (SELECT * FROM bv WHERE vec_id < 10),
exact AS (
  SELECT query_id, neighbor_id, 11 - rn AS g FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
                        i -> q.emb[i] * c.emb[i]), 'sum') / (q.nrm * c.nrm)
               DESC, c.vec_id ASC) AS rn
    FROM q, v c WHERE c.vec_id != q.vec_id)
  WHERE rn <= {_NDCG_K}),
sys AS (
  SELECT query_id, neighbor_id, rn AS p FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
                        i -> q.emb[i] * c.emb[i]), 'sum') / (q.nrm * c.nrm)
               DESC, c.vec_id ASC) AS rn
    FROM q JOIN bv c ON q.bucket = c.bucket AND c.vec_id != q.vec_id)
  WHERE rn <= {_NDCG_K}),
terms AS (
  SELECT s.query_id, s.p,
         CAST(COALESCE(e.g, 0) AS DOUBLE) * ({disc_list})[s.p] AS term
  FROM sys s LEFT JOIN exact e
    ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id),
perq AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_ranked,
         list_reduce(
           list_prepend([0.0], list_transform(list(term ORDER BY p),
                                              t -> [t])),
           (acc, e) -> [acc[1] + e[1]])[1] AS dcg
  FROM terms GROUP BY 1),
withn AS (
  SELECT query_id, n_ranked, dcg, dcg / {_NDCG_IDCG} AS ndcg FROM perq),
mean AS (
  SELECT list_reduce(
           list_prepend([0.0], list_transform(list(ndcg ORDER BY query_id),
                                              t -> [t])),
           (acc, e) -> [acc[1] + e[1]])[1] / count(*) AS mean_ndcg
  FROM withn)
SELECT w.query_id, w.n_ranked, w.dcg, w.ndcg, m.mean_ndcg
FROM withn w, mean m ORDER BY w.query_id
"""


@query("ann_ndcg_eval", oracle=_ndcg_oracle())
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the hyperplane-LSH ANN ranking against graded
    exact-cosine relevance (gain = 11 − exact rank for the true
    top-10): the POSITION-AWARE index-quality audit that recall@k
    (`ann_recall_eval`) cannot give — an index that returns the right
    set in the wrong order scores perfect recall but degraded NDCG.
    Per-query DCG/NDCG plus the corpus mean; n_ranked < 10 shows
    queries whose LSH bucket ran out of candidates (their missing
    positions contribute zero gain — the honest penalty).

    Determinism: position discounts 1/log2(p+1) and the ideal DCG are
    shared repr literals (bit-identical constants, no engine ever
    computes a log); gains are integers; each query's DCG and the
    corpus mean are position-/key-ordered folds of ≤10 doubles, so
    both engines execute identical IEEE adds. Ranking ties break by
    neighbor id.

    Scale: inherits the LSH shape — queries broadcast, candidates only
    within the bucket; the exact side is the knn broadcast pass; the
    NDCG arithmetic touches queries × 10 rows."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(
        F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    bv = e.withColumn("nrm", F.sqrt(sq)).withColumn("bucket", bucket_col(ANN_PLANES))
    q = bv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    dot_qc = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact = (
        bv.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", dot_qc / (F.col("q_nrm") * F.col("nrm")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NDCG_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (11 - F.col("rn")).alias("g"),
        )
    )
    sysr = (
        bv.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("sim", dot_qc / (F.col("q_nrm") * F.col("nrm")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NDCG_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), F.col("rn").alias("p"))
    )
    disc = F.array(*[F.lit(float(d)) for d in _NDCG_DISC])
    terms = sysr.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "p",
        (
            F.coalesce("g", F.lit(0)).cast("double")
            * F.element_at(disc, F.col("p"))
        ).alias("term"),
    )
    perq = terms.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.expr(
            "aggregate(transform(sort_array(collect_list(struct(p, term))), "
            "x -> x.term), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        ).alias("dcg"),
    )
    withn = perq.withColumn("ndcg", F.col("dcg") / F.lit(float(_NDCG_IDCG)))
    mean = withn.agg(
        (
            F.expr(
                "aggregate(transform(sort_array(collect_list(struct(query_id, ndcg))), "
                "x -> x.ndcg), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
            )
            / F.count(F.lit(1))
        ).alias("mean_ndcg")
    )
    return (
        withn.join(F.broadcast(mean))
        .select("query_id", "n_ranked", "dcg", "ndcg", "mean_ndcg")
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH recall
# ---------------------------------------------------------------------------


def _multiprobe_oracle() -> str:
    probes_multi = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {1 << p})" for p in range(len(ANN_PLANES))]
    )
    return f"""
WITH knn AS ({_ORACLES['embedding_knn_bruteforce']}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
              'sum')) AS nrm
  FROM embeddings),
bv AS (SELECT vec_id, emb, nrm, ({bucket_sql(ANN_PLANES)}) AS bucket FROM v),
q AS (SELECT * FROM bv WHERE vec_id < 10),
probes AS (
  SELECT q.vec_id AS query_id, q.emb AS q_emb, q.nrm AS q_nrm,
         m.mode, pb.p AS probe
  FROM q,
       (SELECT unnest(['single', 'multi']) AS mode) m,
       LATERAL unnest(CASE WHEN m.mode = 'single' THEN [q.bucket]
                           ELSE [{probes_multi}] END) AS pb(p)),
cand AS (
  SELECT pr.mode, pr.query_id, c.vec_id AS neighbor_id,
         list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
                        i -> pr.q_emb[i] * c.emb[i]), 'sum')
           / (pr.q_nrm * c.nrm) AS sim
  FROM probes pr JOIN bv c
    ON c.bucket = pr.probe AND c.vec_id != pr.query_id),
top AS (
  SELECT mode, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY mode, query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM cand) WHERE rn <= 5),
hits AS (
  SELECT t.mode,
         CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM top t LEFT JOIN knn k
    ON t.query_id = k.query_id AND t.neighbor_id = k.neighbor_id),
probed AS (
  SELECT mode, CAST(count(*) AS BIGINT) AS n_candidates
  FROM cand GROUP BY 1)
SELECT h.mode, p.n_candidates,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(h.hit) AS BIGINT) AS n_hits,
       CAST(sum(h.hit) AS DOUBLE) / count(*) AS recall_at_5
FROM hits h JOIN probed p USING (mode)
GROUP BY 1, 2 ORDER BY 1
"""


@query("lsh_multiprobe_recall", oracle=_multiprobe_oracle())
def lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): besides a query's own
    hyperplane bucket, probe the 8 buckets that differ in exactly one
    plane bit — the near-miss cells a borderline neighbor most likely
    fell into — and report recall@5 against the exact top-5 NEXT TO the
    single-bucket baseline, with the candidate counts that recall was
    bought with. This is the recall/cost dial an ANN deployment
    actually turns (multi-probe trades ~9x candidates for recall
    WITHOUT rebuilding the index; more planes + more probes is how LSH
    scales precision), completing the ANN audit ladder next to
    `ann_recall_eval` (one operating point) and `ann_ndcg_eval`
    (position quality).

    Determinism: probes are exact integer XORs of the md5-derived
    bucket; cosine ranking ties break by neighbor id; recall divisions
    are exact-input (unrounded).

    Scale: the probe fan-out is queries x 9 — broadcast; candidates
    stay bucket-bounded (9/2^planes of the corpus per query); top-5 via
    bounded per-(mode, query) windows; ground truth composes the
    registered knn oracle in both engines."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(
        F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    bv = e.withColumn("nrm", F.sqrt(sq)).withColumn("bucket", bucket_col(ANN_PLANES))
    q = bv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    single = F.array(F.col("q_bucket"))
    multi = F.array(
        F.col("q_bucket"),
        *[F.expr(f"q_bucket ^ {1 << p}") for p in range(len(ANN_PLANES))],
    )
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(
            F.array(
                F.struct(F.lit("single").alias("mode"), single.alias("ps")),
                F.struct(F.lit("multi").alias("mode"), multi.alias("ps")),
            )
        ).alias("mp"),
    ).select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.col("mp.mode").alias("mode"),
        F.explode("mp.ps").alias("probe"),
    )
    dot_qc = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cand = bv.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
    ).withColumn("sim", dot_qc / (F.col("q_nrm") * F.col("nrm")))
    w = Window.partitionBy("mode", "query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    top = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("mode", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    probed = cand.groupBy("mode").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    from ecommerce_lakehouse_spark.queries.llm import (
        embedding_knn_bruteforce as _knn_fn,
    )

    knn = _knn_fn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    hits = top.join(F.broadcast(knn), ["query_id", "neighbor_id"], "left")
    return (
        hits.groupBy("mode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            (
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
            ).alias("recall_at_5"),
        )
        .join(F.broadcast(probed), "mode")
        .select("mode", "n_candidates", "n_pairs", "n_hits", "recall_at_5")
        .orderBy("mode")
    )
