"""LLM training-data pipeline, phase 3: embedding-cosine near-dup
detection (banded hyperplane LSH), IVF-style coarse-quantized ANN, and a
BPE-ish regex token estimator (north star; SURVEY §7.3 v6).

Same oracle discipline as llm2.py: every random constant (hyperplanes)
is a deterministic md5-derived literal embedded in BOTH the Spark plan and
the DuckDB SQL, so LSH buckets and IVF cells are engine-independent and
fully value-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ecommerce_lakehouse_spark.operators.lsh import (
    EMBED_DIM,
    bucket_col,
    bucket_sql,
    hyperplanes,
)
from ecommerce_lakehouse_spark.operators.text import H32_S, WS_TOKS_S
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load

# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs via banded hyperplane LSH
# ---------------------------------------------------------------------------

# 4 bands × 3 planes: a pair collides if it lands in the same bucket in ANY
# band (OR-amplification). For cosine 0.4 the per-band collision odds are
# (1 - acos(0.4)/pi)^3 ≈ 0.25, so 4 bands recover ≈ 0.68 of true pairs —
# tune bands/planes for recall vs candidate volume at scale.
_CD_BANDS, _CD_PLANES = 4, 3
_CD_THRESHOLD = 0.4
# Skew guard — same policy as minhash's MH_BUCKET_CAP (operators/lsh.py):
# a hyperplane bucket holding more vectors than this is degenerate (e.g.
# a near-zero-vector cluster landing on every plane's boundary side);
# expansion is dropped whole, mirrored in the oracle, surfaced by
# band_skew_profile + scale_smoke.
_CD_BUCKET_CAP = 512
_PLANES_CD = hyperplanes("cd", _CD_BANDS * _CD_PLANES)


def _band_planes(b: int) -> list[list[float]]:
    return _PLANES_CD[_CD_PLANES * b : _CD_PLANES * (b + 1)]


_CD_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, emb, nrm, {b} AS band, ({bucket_sql(_band_planes(b))}) AS bucket FROM v"
    for b in range(_CD_BANDS)
)


@query(
    "embedding_cosine_dups_expanded",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM embeddings
), bands AS (
  {_CD_BANDS_SQL}
), bsz AS (
  SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.emb AS ea, b.emb AS eb, a.nrm AS na, b.nrm AS nb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN bsz s ON a.band = s.band AND a.bucket = s.bucket AND s.n <= {_CD_BUCKET_CAP}
)
SELECT vec_a, vec_b, round(cos, 5) AS cosine_sim
FROM (SELECT vec_a, vec_b,
             list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
                 i -> ea[i] * eb[i]), 'sum') / (na * nb) AS cos
      FROM pairs)
WHERE cos >= {_CD_THRESHOLD}
""",
)
def embedding_cosine_dups_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL near-duplicate pairs, exact copies included — the fully-expanded
    contract (opt-in; the primary operator is the collapse-first
    ``embedding_cosine_dups`` below).

    The output is inherently quadratic in exact-copy multiplicity (every
    pair of identical vectors is a genuine near-dup the contract must
    emit), but the COMPUTE no longer is: identical vectors are collapsed
    before LSH (one groupBy), candidate generation + exact cosine run on
    the canonical set only, and the expansion back to all pairs is pure
    output materialization — per-pair work is a broadcast lookup, no
    re-hashing, no per-pair cosine. Identical vectors band identically
    and share one cosine, so the expansion reproduces the naive
    all-pairs output bit-for-bit (same oracle as before the demotion).
    """
    e = load(spark, sf_dir, "embeddings")
    groups = e.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
    )
    sq = F.aggregate(F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    v = (
        groups.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.size("members").alias("n_copies"),
        )
        .withColumn("nrm", F.sqrt(sq))
    )
    # weight buckets by group multiplicity so the skew cap sees the RAW
    # bucket population the oracle counts (600 exact copies = a bucket of
    # 600, even though they collapse to one canonical row here)
    canon_pairs, survivors = _cosine_pair_search(
        v, weight_col="n_copies", return_survivors=True
    )

    # cross-group expansion: each canonical near-dup pair fans out to
    # members(a) × members(b); broadcast here, slim shuffle joins at scale
    mem = groups.select("vec_id", "members")
    cross = (
        canon_pairs.join(
            F.broadcast(mem.select(F.col("vec_id").alias("vec_a"), F.col("members").alias("ma"))),
            "vec_a",
        )
        .join(
            F.broadcast(mem.select(F.col("vec_id").alias("vec_b"), F.col("members").alias("mb"))),
            "vec_b",
        )
        .select(F.explode("ma").alias("x"), "mb", "cosine_sim")
        .select("x", F.explode("mb").alias("y"), "cosine_sim")
        .select(
            F.least("x", "y").alias("vec_a"),
            F.greatest("x", "y").alias("vec_b"),
            "cosine_sim",
        )
    )

    # within-group pairs (exact copies): one self-cosine per group — the
    # same expression shape as the pairwise confirmation, so the value
    # (and its round-5 form) matches what the naive path would emit
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(members) - 2),"
        " i -> transform(sequence(i + 1, size(members) - 1),"
        "   j -> struct(members[i] as vec_a, members[j] as vec_b))))"
    )
    self_dot = F.aggregate(
        F.zip_with("ea", "ea", lambda a, x: a * x), F.lit(0.0), lambda a, x: a + x
    )
    within = (
        groups.filter(F.size("members") >= 2)
        # a group whose every bucket is over the raw cap is dropped whole,
        # within-group pairs included — identical to the uncollapsed
        # oracle, where those raw buckets (>= group size) all exceed the cap
        .join(survivors, "vec_id")
        .select(F.col("embedding").cast("array<double>").alias("ea"), "members")
        .withColumn(
            "na",
            F.sqrt(
                F.aggregate(
                    F.transform("ea", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
                )
            ),
        )
        .withColumn("cos", self_dot / (F.col("na") * F.col("na")))
        .filter(F.col("cos") >= _CD_THRESHOLD)
        .select(F.explode(pair_expr).alias("p"), F.round("cos", 5).alias("cosine_sim"))
        .select("p.vec_a", "p.vec_b", "cosine_sim")
    )
    return cross.unionByName(within)


def _cosine_pair_search(
    v: DataFrame, weight_col: str | None = None, return_survivors: bool = False
):
    """Banded-LSH candidate generation + exact-cosine confirmation over a
    (vec_id, emb, nrm) DataFrame — the shared engine behind
    embedding_cosine_dups (all vectors) and
    embedding_cosine_dups_canonical (exact-collapsed vectors).

    ``weight_col``: bucket sizes for the skew cap are summed over this
    column instead of counting rows — collapse-first callers pass the
    group multiplicity so the cap applies to the RAW (pre-collapse)
    bucket population, matching an uncollapsed oracle/reference exactly.
    ``return_survivors``: also return the distinct vec_ids that appear
    in at least one under-cap bucket (a collapsed group whose every
    bucket is over the cap must not emit its within-group pairs either).
    """

    # All band buckets in ONE projection + explode (not a per-band union,
    # which would scan the embeddings table once per band at 100 TB). Only
    # the slim (vec_id, band, bucket) triple flows into the explode; the
    # vectors rejoin after candidate generation.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                bucket_col(_band_planes(b)).alias("bucket"),
            )
            for b in range(_CD_BANDS)
        ]
    )
    wt = F.col(weight_col) if weight_col else F.lit(1)
    bands = v.select("vec_id", wt.alias("wt"), F.explode(band_structs).alias("bb")).select(
        "vec_id", "wt", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Expand SLIM (vec_a, vec_b) id pairs only, dedup, then join the
    # vectors back for the exact-cosine confirmation: candidate volume is
    # O(n²/buckets), so shipping two 64-dim arrays per candidate through
    # the dedup shuffle dominates (measured 13.5s -> the whole query in
    # ~4s at sf0.1 when the shuffle carries 16-byte id pairs instead).
    # The join back is broadcast here; at 100 TB it becomes two linear
    # shuffle joins on vec_id — still no O(n²) anywhere.
    members = F.expr("sort_array(collect_list(vec_id))")
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(members) - 2),"
        " i -> transform(sequence(i + 1, size(members) - 1),"
        "   j -> struct(members[i] as vec_a, members[j] as vec_b))))"
    )
    sized = bands.groupBy("band", "bucket").agg(
        members.alias("members"), F.sum("wt").alias("raw_n")
    )
    # skew guard: degenerate buckets (> _CD_BUCKET_CAP raw members) drop
    # whole — policy documented at the cap's definition, mirrored in the
    # oracle's bsz CTE, surfaced by band_skew_profile
    ok = sized.filter(F.col("raw_n") <= _CD_BUCKET_CAP)
    pairs = (
        ok.filter(F.size("members") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.vec_a", "p.vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = F.broadcast(
        v.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), F.col("nrm").alias("na"))
    )
    vb = F.broadcast(
        v.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), F.col("nrm").alias("nb"))
    )
    cos = (
        F.aggregate(F.zip_with("ea", "eb", lambda a, x: a * x), F.lit(0.0), lambda a, x: a + x)
        / (F.col("na") * F.col("nb"))
    )
    confirmed = (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _CD_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 5).alias("cosine_sim"))
    )
    if return_survivors:
        survivors = ok.select(F.explode("members").alias("vec_id")).distinct()
        return confirmed, survivors
    return confirmed


@query(
    "embedding_cosine_dups",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH canon AS (
  SELECT min(vec_id) AS vec_id, embedding, count(*) AS n_copies
  FROM embeddings GROUP BY embedding
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM canon
), bands AS (
  {_CD_BANDS_SQL}
), bsz AS (
  SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.emb AS ea, b.emb AS eb, a.nrm AS na, b.nrm AS nb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN bsz s ON a.band = s.band AND a.bucket = s.bucket AND s.n <= {_CD_BUCKET_CAP}
), confirmed AS (
  SELECT vec_a, vec_b, round(cos, 5) AS cosine_sim
  FROM (SELECT vec_a, vec_b,
               list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
                   i -> ea[i] * eb[i]), 'sum') / (na * nb) AS cos
        FROM pairs)
  WHERE cos >= {_CD_THRESHOLD}
)
SELECT c.vec_a, c.vec_b, c.cosine_sim,
       ca.n_copies AS copies_a, cb.n_copies AS copies_b
FROM confirmed c
JOIN canon ca ON c.vec_a = ca.vec_id
JOIN canon cb ON c.vec_b = cb.vec_id
""",
)
def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the PRIMARY near-dup path,
    collapse-first by default (promoted from `_canonical` per the round-2
    verdict): exact-collapse identical vectors FIRST (group by the
    embedding itself — no float serialization, canonical id = min vec_id,
    multiplicity kept), then banded-LSH near-dup on the canonical set
    only. This removes the quadratic-in-copy-multiplicity candidate
    blowup measured in tools/scale_smoke.py (178 s → the canonical set is
    copy-free, so bucket sizes reflect genuine near-dup density only);
    each emitted pair carries both sides' multiplicities so downstream
    dedup can weight survivors. The fully-expanded all-pairs contract
    remains available as the opt-in ``embedding_cosine_dups_expanded``.

    Scale: the collapse is one groupBy on the vector value (map-side
    partials collapse copies early); everything after runs on the
    strictly smaller canonical set."""
    e = load(spark, sf_dir, "embeddings")
    canon = e.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"), F.count("*").alias("n_copies")
    )
    sq = F.aggregate(F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    v = canon.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", F.sqrt(sq))
    pairs = _cosine_pair_search(v)
    copies = canon.select("vec_id", "n_copies")
    return (
        pairs.join(
            F.broadcast(copies.select(F.col("vec_id").alias("vec_a"),
                                      F.col("n_copies").alias("copies_a"))),
            "vec_a",
        )
        .join(
            F.broadcast(copies.select(F.col("vec_id").alias("vec_b"),
                                      F.col("n_copies").alias("copies_b"))),
            "vec_b",
        )
        .select("vec_a", "vec_b", "cosine_sim", "copies_a", "copies_b")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer cells, search only the query's cell
# ---------------------------------------------------------------------------

_IVF_K = 16  # coarse codebook size: vectors with vec_id < 16
_IVF_TOPK = 3


@query(
    "embedding_ivf_ann",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM v WHERE vec_id < {_IVF_K}
), scored AS (
  SELECT v.vec_id, v.emb, v.nrm, c.cid,
         list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
             i -> v.emb[i] * c.cemb[i]), 'sum') / (v.nrm * c.cnrm) AS ccos
  FROM v CROSS JOIN cent c
), asg AS (
  SELECT vec_id, emb, nrm, cid AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cid ASC) AS rn FROM scored)
  WHERE rn = 1
), q AS (SELECT * FROM asg WHERE vec_id < 10),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell,
         list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
             i -> q.emb[i] * c.emb[i]), 'sum') / (q.nrm * c.nrm) AS sim
  FROM q JOIN asg c ON q.cell = c.cell AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, round(sim, 5) AS cosine_sim, cell, rn AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM cand)
WHERE rn <= {_IVF_TOPK}
""",
)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (north star similarity-search scale path, complement
    to the hyperplane-LSH variant): a 16-entry coarse codebook (here: the
    first 16 vectors standing in for k-means centroids) partitions the
    corpus into cells; each query searches only its own cell.

    Scale: assignment is a broadcast of K centroids against the corpus —
    map-side only, one row out per vector (the row_number window here
    is per-vec_id over K=16 rows; at 100 TB use max_by to keep it a pure
    map-side agg). The search join shuffles on the cell id, and cells are
    ~n/K — multi-probe (top-p cells) trades recall for fan-out.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    v = e.withColumn("nrm", F.sqrt(sq))
    cent = v.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    ccos = (
        F.aggregate(F.zip_with("emb", "cemb", lambda a, x: a * x), F.lit(0.0), lambda a, x: a + x)
        / (F.col("nrm") * F.col("cnrm"))
    )
    w_asg = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    asg = (
        v.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("rn", F.row_number().over(w_asg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "nrm", F.col("cid").alias("cell"))
    )
    q = asg.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cell").alias("q_cell"),
    )
    sim = (
        F.aggregate(
            F.zip_with("q_emb", "emb", lambda a, x: a * x), F.lit(0.0), lambda a, x: a + x
        )
        / (F.col("q_nrm") * F.col("nrm"))
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        asg.join(
            F.broadcast(q),
            (F.col("q_cell") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim", 5).alias("cosine_sim"),
            "cell",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token estimator
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenization, simplified: letter runs, single digits,
# single punctuation marks. Subword estimate: ceil(len/4) pieces per run
# (the ~4-chars-per-token rule of thumb applied per pre-token).
_BPE_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "bpe_token_estimate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '{_BPE_PAT}') AS pieces
  FROM documents
)
SELECT doc_id,
       len(pieces) AS n_pieces,
       CAST(list_aggregate(list_transform(pieces, x -> (length(x) + 3) // 4), 'sum')
         AS BIGINT) AS est_bpe_tokens,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       length(text) / CAST(list_aggregate(list_transform(pieces,
            x -> (length(x) + 3) // 4), 'sum') AS DOUBLE) AS chars_per_token
FROM t
""",
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (north star text analysis): regex
    pre-tokenization (letter runs / digits / punctuation) plus a
    ceil(len/4) subword estimate per piece — the budget metric used to
    size training corpora without running a real tokenizer. Entirely
    JVM-side: regexp_extract_all + higher-order array sums."""
    d = load(spark, sf_dir, "documents")
    # Spark SQL string literals eat single backslashes ('\s' -> 's'), so
    # the pattern needs re-escaping on this side; DuckDB keeps '\s' as-is.
    pieces = F.expr(f"regexp_extract_all(text, '{_BPE_PAT.replace(chr(92), chr(92) * 2)}', 0)")
    est = F.aggregate(
        F.transform(pieces, lambda x: (F.length(x) + F.lit(3)).cast("long") / F.lit(4)),
        F.lit(0).cast("long"),
        lambda a, x: a + F.floor(x).cast("long"),
    )
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        est.alias("est_bpe_tokens"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        (F.length("text") / est.cast("double")).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over MinHash-LSH candidate pairs
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries import ORACLES as _ORACLES  # noqa: E402
from ecommerce_lakehouse_spark.queries.llm2 import minhash_lsh_pairs as _mh_pairs  # noqa: E402


@query(
    "neardup_clusters",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH RECURSIVE mp AS (
  SELECT doc_a, doc_b FROM ({{pairs_sql}}) q
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mp
), reach(src, dst) AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id, src = min(dst) AS is_canonical
FROM reach GROUP BY src
""".format(pairs_sql="{PAIRS}"),
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (north star dedup, final stage): connected
    components over the MinHash-LSH candidate-pair graph via iterative
    min-label propagation; cluster_id = min doc_id in the component, the
    canonical survivor every dedup policy keys on. Singletons cluster to
    themselves, so the output is a total doc_id -> cluster_id map.

    Scale: each iteration is one join + partial-min agg on the edge list
    (no collect); lineage is truncated per iteration (localCheckpoint —
    reliable checkpoint dir on a cluster); iterations = graph diameter in
    hops, and min-label halves distances, so even 100-doc chains converge
    in ~7 rounds. The oracle is the same closure as a recursive CTE.
    """
    pairs = _mh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    from ecommerce_lakehouse_spark.operators.graph import min_label_propagation

    labels = min_label_propagation(docs, pairs)
    return labels.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


# splice the (already-registered) minhash pair SQL into the recursive oracle
_ORACLES["neardup_clusters"] = _ORACLES["neardup_clusters"].replace(
    "{PAIRS}", _ORACLES["minhash_lsh_pairs"]
)


# ---------------------------------------------------------------------------
# winnowing document fingerprints (rolling-hash family)
# ---------------------------------------------------------------------------

_WIN_GRAM = 5  # token k-gram size
_WIN_W = 4  # winnowing window: one fingerprint per w consecutive hashes


@query(
    "winnow_fingerprints",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {_WIN_GRAM - 2}),
             i -> ('0x' || substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])), 1, 8))::BIGINT) AS hashes
  FROM t WHERE len(toks) >= {_WIN_GRAM}
), w AS (
  SELECT doc_id, hashes,
         list_distinct(list_transform(range(1, len(hashes) - {_WIN_W - 2}),
             i -> list_min(hashes[i : i + {_WIN_W} - 1]))) AS fps
  FROM g WHERE len(hashes) >= {_WIN_W}
)
SELECT doc_id,
       len(hashes) AS n_grams,
       len(fps) AS n_fingerprints,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp
FROM w
""",
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. MOSS; the rolling-hash
    fingerprint family of the north star): hash every token 5-gram, then
    keep the minimum hash of each sliding window of 4 — guarantees any
    sufficiently long match between documents shares a fingerprint, at
    ~1/w the storage of full shingling.

    All JVM higher-order array expressions (hash array computed once —
    same projection-collapse discipline as minhash); at 100 TB the
    fingerprint set explodes to (doc_id, fp) rows and groupBy(fp) yields
    the same candidate-pair generation as MinHash bands.

    DuckDB list slicing hashes[i : i+w-1] is inclusive-end; the Spark
    twin uses slice(hashes, i, w). Both emit windows of exactly w.
    """
    d = load(spark, sf_dir, "documents")
    gram = "concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])"
    # Two materialization barriers (localCheckpoint), NOT withColumn:
    # Catalyst neither stops projection collapse at a named column nor
    # CSE-dedupes higher-order-function expressions, so `toks[i]` inside
    # the gram lambda re-runs split() per access and `slice(hashes, i, w)`
    # re-runs the whole md5 transform per window — measured 12.7s at
    # sf0.1; with real barriers the same plan is ~1.5s. At cluster scale
    # use persist()/a reliable checkpoint dir — the shape (tokenize once,
    # hash once, window over materialized arrays) is the point.
    # size(toks) >= GRAM+W-1 ⟺ at least one full winnow window exists
    # (equals the oracle's two-stage length guards).
    toks_df = (
        d.select("doc_id", F.expr(WS_TOKS_S).alias("toks"))
        .filter(F.size("toks") >= _WIN_GRAM + _WIN_W - 1)
        .localCheckpoint()
    )
    hashed = toks_df.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, size(toks) - {_WIN_GRAM}), i -> {H32_S.format(x=gram)})"
        ).alias("hashes"),
    ).localCheckpoint()
    fps = F.expr(
        f"array_distinct(transform(sequence(1, size(hashes) - {_WIN_W - 1}),"
        f" i -> array_min(slice(hashes, i, {_WIN_W}))))"
    )
    return hashed.select(
        "doc_id",
        F.size("hashes").alias("n_grams"),
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


# ---------------------------------------------------------------------------
# corpus sampling + batch construction (training-data pipeline tail stages)
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 80, "es": 40, "fr": 40, "de": 20}  # percent per lang
_RATES_SQL = " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in _SAMPLE_RATES.items()
)


@query(
    "hash_sample_stratified",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
         CASE {_RATES_SQL} ELSE 10 END AS rate
  FROM documents
)
SELECT doc_id, lang, bucket, rate,
       100.0 / rate AS sample_weight
FROM t WHERE bucket < rate
""",
)
def hash_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-corpus mixing): each
    language keeps a configured share, membership decided by a hash of the
    stable key — NOT rand(). Hash-based sampling is reproducible across
    runs, engines, and retries (the same doc always lands on the same side
    of the cut), composes with incremental ingest, and ships an inverse-
    probability weight for unbiased downstream statistics.

    Scale: a pure map-side filter — no shuffle, no state; changing the mix
    is a literal change, and upsampling a stratum later keeps every
    previously sampled doc (bucket < old_rate ⊂ bucket < new_rate)."""
    d = load(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(100),
    )
    rate = F.lit(10)
    for lang, pct in reversed(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .withColumn("sample_weight", F.lit(100.0) / F.col("rate"))
    )


_BATCH_TOKENS = 256  # target tokens per batch (demo scale)


@query(
    "length_bucketed_batches",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         CAST(floor(log2(len(string_split_regex(trim(text), '\\s+')))) AS INT) AS len_bucket
  FROM documents
), o AS (
  SELECT doc_id, n_tokens, len_bucket,
         row_number() OVER (PARTITION BY len_bucket ORDER BY n_tokens, doc_id) AS rn,
         sum(n_tokens) OVER (PARTITION BY len_bucket ORDER BY n_tokens, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, len_bucket, rn,
       CAST((cum_tokens - 1) // {_BATCH_TOKENS} AS BIGINT) AS batch_id
FROM o
""",
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch construction (the packing stage before
    training): docs are bucketed by log2 token length (similar lengths →
    minimal padding waste), ordered deterministically inside each bucket,
    and cut into batches by cumulative token budget.

    Scale: one shuffle on len_bucket for the window; buckets are
    independent so batching parallelizes across them. (Per-bucket running
    sums are a frame-spec window — W+ beyond the reference's single rank
    window.)"""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    t = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.floor(F.log2(n_tokens)).cast("int").alias("len_bucket"),
    )
    w = Window.partitionBy("len_bucket").orderBy("n_tokens", "doc_id")
    cum = Window.partitionBy("len_bucket").orderBy("n_tokens", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return t.select(
        "doc_id",
        "n_tokens",
        "len_bucket",
        F.row_number().over(w).alias("rn"),
        F.floor((F.sum("n_tokens").over(cum) - 1) / _BATCH_TOKENS).cast("long").alias("batch_id"),
    )


@query(
    "train_val_test_split",
    oracle="""
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(doc_id::VARCHAR || '#split'), 1, 8))::BIGINT % 100
           AS bucket
  FROM documents),
s AS (
  SELECT lang,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM b),
g AS (SELECT lang, split, count(*) AS n_docs FROM s GROUP BY 1, 2)
SELECT lang, split, n_docs,
       CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang)
         AS lang_share
FROM g
""",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    stable document key (salted so the cut is independent of the sampling
    hash in hash_sample_stratified) — never rand(): the same doc lands in
    the same split across runs, engines, retries, and incremental ingest,
    which is what makes held-out sets trustworthy. Returns the per-language
    split audit (counts + within-language share).

    Scale: split assignment is a pure map-side expression; the audit
    collapses to 3 rows per language before the only shuffle, and the
    share window runs over those 3 rows per partition key."""
    d = load(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#split"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    g = d.groupBy("lang", split.alias("split")).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "split",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "lang_share"
        ),
    )


@query(
    "normalized_dedup_groups",
    oracle=r"""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
         md5(text) AS raw_hash
  FROM documents)
SELECT count(*) AS n_docs,
       count(DISTINCT raw_hash) AS n_unique_raw,
       count(DISTINCT norm_hash) AS n_unique_normalized,
       count(*) - count(DISTINCT norm_hash) AS n_dup_docs
FROM n
""",
)
def normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware dedup audit: lowercase + whitespace-collapse
    before hashing, so documents differing only in case/spacing count as
    duplicates (the first rung of the dedup ladder, between byte-exact
    exact_dedup and the minhash/simhash near-dup family). Reports corpus
    size, distinct raw hashes, distinct normalized hashes, and the
    duplicate-document count their difference implies.

    Scale: normalization is a map-side regex; only fixed-width hashes
    shuffle (never raw text), and the dual countDistinct runs over those
    hashes — identical shuffle profile to exact_dedup."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    n = d.select(
        F.md5(norm).alias("norm_hash"), F.md5("text").alias("raw_hash")
    )
    return n.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("raw_hash").alias("n_unique_raw"),
        F.countDistinct("norm_hash").alias("n_unique_normalized"),
        (F.count("*") - F.countDistinct("norm_hash")).alias("n_dup_docs"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
WITH dims AS (
  SELECT vec_id, u.i, CAST(u.x AS DOUBLE) AS x
  FROM embeddings,
       unnest(list_transform(range(1, len(embedding) + 1),
              i -> {'i': i, 'x': embedding[i]})) AS t(u)),
stats AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
q AS (
  SELECT d.vec_id, d.i, d.x, s.mn, s.mx,
         CASE WHEN s.mx > s.mn
              THEN least(255, CAST(floor((d.x - s.mn) / (s.mx - s.mn) * 255)
                              AS BIGINT))
              ELSE 0 END AS code
  FROM dims d JOIN stats s USING (i)),
e AS (
  SELECT vec_id, code,
         x - (mn + code * (mx - mn) / 255) AS err
  FROM q)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(CAST(floor(err * err * 1e12) AS BIGINT)) AS BIGINT)
         AS sq_err_picos
FROM e GROUP BY vec_id
ORDER BY vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 scalar quantization of the embedding
    table — the 4x memory cut every large-scale vector store applies
    before ANN (FAISS SQ8): per-dim [min, max] over the corpus, code =
    floor((x-min)/(max-min)*255) clamped to [0,255], plus a per-vector
    reconstruction-error audit (the number that tells you whether SQ8
    is safe for your recall target before you commit the index).

    Cross-engine determinism: floor (never round — a half-up boundary
    on a double quotient is engine-divergent, see memory/money.py
    policy) on bit-identical IEEE arithmetic; the squared error is
    floored into integer picos PER DIMENSION and summed in BIGINT, so
    no float association order exists anywhere.

    Scale: per-dim stats are a fixed-width groupBy (64 groups whatever
    the corpus size) broadcast back; everything else is map-side
    per-element arithmetic; output is one row per vector. The explode
    is 64x fan-out into immediately-partial-aggregated rows — the same
    shape token_frequencies relies on."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    stats = dims.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = dims.join(F.broadcast(stats), on="i").select(
        "vec_id",
        "x",
        "mn",
        "mx",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(255).cast("long"),
                F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("code"),
    )
    err = (
        F.col("x")
        - (F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / 255)
    )
    return (
        q.select("vec_id", "code", err.alias("err"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum("code").cast("long").alias("code_sum"),
            F.sum(F.floor(F.col("err") * F.col("err") * 1e12).cast("long"))
            .cast("long")
            .alias("sq_err_picos"),
        )
        .orderBy("vec_id")
    )


@query(
    "pq_encode_eval",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
samp AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                 vec_id) AS BIGINT) AS sid,
         emb AS s_emb
  FROM v QUALIFY sid <= 16),
sub AS (SELECT unnest(range(0, 8)) AS k),
dists AS (
  SELECT v.vec_id, sub.k, samp.sid,
         list_aggregate(list_transform(range(1, 9),
             i -> (v.emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])
                  * (v.emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])),
             'sum') AS dist
  FROM v CROSS JOIN sub CROSS JOIN samp),
best AS (
  SELECT vec_id, k, sid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, k
                                 ORDER BY dist ASC, sid ASC) AS rn
    FROM dists) WHERE rn = 1)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_sub,
       CAST(sum(k * 16 + sid) AS BIGINT) AS code_checksum,
       CAST(sum(CAST(floor(dist * 1e12) AS BIGINT)) AS BIGINT)
         AS sq_err_picos
FROM best GROUP BY vec_id
ORDER BY vec_id
""",
)
def pq_encode_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode + error audit (Jégou et al. 2011):
    split each 64-dim vector into 8 subvectors of 8 dims, encode each
    against a 16-centroid per-subspace codebook (64 dims × 4 bytes →
    8 × 4-bit codes = 32× compression), report the per-vector
    reconstruction error — the next rung of the compression ladder
    after embedding_quantize_int8's 4×, with the same pico-exact error
    column so the SQ8-vs-PQ tradeoff reads straight off the two query
    outputs.

    The codebook is HASH-SAMPLED, not k-means-trained (the 16 vectors
    with smallest md5(vec_id) serve as centroids): deterministic across
    engines/retries by construction, and the honest no-training
    baseline — a trained codebook only lowers the reported error, it
    does not change the pipeline shape.

    Cross-engine determinism: subspace distances are positional in-row
    folds on bit-identical doubles; argmin ties break by sample id;
    per-subspace errors floor into integer picos BEFORE the per-vector
    sum, so no float association exists.

    Scale: the codebook is 16 rows broadcast; encoding is
    vectors × 8 × 16 map-side distance rows collapsed by a
    (vec_id, subspace)-partitioned window — no corpus-sized shuffle;
    at 100 TB swap the argmin window for a groupBy min(struct(dist,
    sid)) if the 128× fan-out ever dominates (same result, pure
    partial-agg)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # TakeOrdered (per-partition heads) picks the 16 hash-smallest
    # vectors WITHOUT a global-order window over the raw table; the
    # row_number that assigns sids then runs on the bounded 16-row frame
    samp16 = (
        e.select(
            F.md5(F.col("vec_id").cast("string")).alias("m"), "vec_id", "emb"
        )
        .orderBy("m", "vec_id")
        .limit(16)
    )
    samp = samp16.select(
        F.row_number()
        .over(Window.orderBy("m", "vec_id"))
        .cast("long")
        .alias("sid"),
        F.col("emb").alias("s_emb"),
    )
    sub = spark.range(0, 8).select(F.col("id").alias("k"))
    pairs = e.crossJoin(F.broadcast(sub)).crossJoin(F.broadcast(samp))
    sl = lambda c: F.slice(c, (F.col("k") * 8 + 1).cast("int"), 8)  # noqa: E731
    dist = F.aggregate(
        F.zip_with(sl(F.col("emb")), sl(F.col("s_emb")), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dists = pairs.select("vec_id", "k", "sid", dist.alias("dist"))
    w = Window.partitionBy("vec_id", "k").orderBy(F.asc("dist"), F.asc("sid"))
    best = dists.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sub"),
            F.sum(F.col("k") * 16 + F.col("sid")).cast("long").alias("code_checksum"),
            F.sum(F.floor(F.col("dist") * 1e12).cast("long"))
            .cast("long")
            .alias("sq_err_picos"),
        )
        .orderBy("vec_id")
    )
