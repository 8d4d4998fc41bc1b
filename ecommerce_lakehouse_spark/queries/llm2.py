"""LLM training-data pipeline, phase 2: near-dup detection (MinHash-LSH,
SimHash, n-gram Jaccard), LSH-bucketed ANN, language-ID heuristic, and
multimodal binary plumbing (north star; SURVEY §7.3 v6).

Hashing primitive shared with the DuckDB oracle: the 32-bit md5 prefix
of operators/text.py, whose Spark and DuckDB twins agree bit-for-bit, so
MinHash signatures (operators/lsh.py), SimHash bits, and LSH planes are
engine-independent and fully oracle-checkable (no rows-only fallbacks
needed).

Scale design notes are on each query; the common theme: candidate
generation via bucketing (band join / hyperplane buckets) so nothing is
O(n²) on the full corpus; Python appears only in the Arrow-batched
multimodal featurizer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ecommerce_lakehouse_spark.operators.lsh import (
    ANN_PLANES,
    EMBED_DIM,
    MH_BANDS,
    MH_BUCKET_CAP,
    MH_EST_THRESHOLD,
    MH_K,
    MH_P,
    bucket_col,
    bucket_sql,
    minhash_bands_df,
    minhash_est_jaccard,
    minhash_signatures_df,
)
from ecommerce_lakehouse_spark.operators.multimodal import featurize_binary, with_binary_payload
from ecommerce_lakehouse_spark.operators.text import H32_D, H32_S, WS_TOKS_D, WS_TOKS_S
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load

@query(
    "minhash_lsh_pairs",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id, count(*) AS n_copies, text
  FROM documents GROUP BY text
), t AS (
  SELECT doc_id, n_copies, {WS_TOKS_D} AS toks FROM canon
), sh AS (
  SELECT doc_id, n_copies,
         list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id, n_copies,
         list_transform(shingles, s -> {H32_D.format(x='s')}) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, n_copies,
         list_transform(range(0, {MH_K}),
             k -> list_min(list_transform(hashes, h -> (h * (2*k + 1) + (12345 + k)) % {MH_P}))) AS sig
  FROM hs
), bands AS (
  SELECT doc_id, n_copies, sig,
         unnest(list_transform(range(0, {MH_BANDS}),
             j -> concat_ws(',', j, sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]))) AS band_key
  FROM sig
), bsz AS (
  SELECT band_key, count(*) AS n FROM bands GROUP BY 1
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb,
         a.n_copies AS copies_a, b.n_copies AS copies_b
  FROM bands a
  JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  JOIN bsz s ON a.band_key = s.band_key AND s.n <= {MH_BUCKET_CAP}
)
SELECT doc_a, doc_b,
       len(list_filter(range(1, {MH_K} + 1), i -> sa[i] = sb[i])) / {MH_K}.0 AS est_jaccard,
       copies_a, copies_b
FROM pairs
WHERE len(list_filter(range(1, {MH_K} + 1), i -> sa[i] = sb[i])) / {MH_K}.0 >= {MH_EST_THRESHOLD}
""",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs (north star dedup),
    collapse-first: exact copies are collapsed on md5(text) BEFORE any
    shingling (canonical doc = min doc_id, multiplicity carried as
    copies_a/copies_b), so candidate volume reflects genuine near-dup
    density — identical texts can never blow up a band bucket
    quadratically. Exact-copy pairs are exact_dedup's domain; this
    operator emits pairs between distinct texts only.

    Pipeline: md5 collapse → word-3-gram shingles → 32 universal-hash
    minima (signature) → 8 bands × 4 rows → equi-join on band key →
    signature-estimated Jaccard filter. All signature math is JVM
    higher-order array expressions.

    Scale: the collapse shuffles fixed-width hashes (never raw text —
    canonical text is fetched back by a slim id join); the only other
    shuffle is the band-key join, whose buckets are small by
    construction (LSH); no O(n²) comparison. At 100 TB, band_key is
    salted-bucketable and signatures are 32×8B fixed width.
    """
    d = load(spark, sf_dir, "documents")
    # exact-collapse first: ONE groupBy on the text value (same shape as
    # the cosine path's group-by-embedding). A hash-groupBy + join-back
    # was measured slower AND is no better at scale: the join still has
    # to shuffle the text by doc_id, so grouping by value is one text
    # shuffle instead of text + slim (map-side partials collapse copies
    # before the wire either way).
    canon = d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    )
    # Materialize the signatures ONCE (localCheckpoint; persist() on a
    # cluster): the sig table feeds band generation AND both sides of the
    # pair join below — without the barrier Catalyst would re-run the
    # md5/minhash work three times.
    sig = minhash_signatures_df(canon.select("doc_id", "n_copies", "text")).localCheckpoint()
    bands = minhash_bands_df(sig.select("doc_id", "sig")).select("doc_id", "band_key")
    # Candidate pairs via groupBy(band_key) + in-bucket expansion rather
    # than a band_key self-join (one hash-shuffle computes the band index
    # once; LSH keeps buckets small, so in-bucket expansion is bounded).
    # Only SLIM (doc_a, doc_b) id pairs flow through the dedup shuffle —
    # shipping two 32x8B signatures per candidate dominated the runtime
    # at 10x duplication density (measured 15.6s -> see below); the sigs
    # and multiplicities rejoin on the deduped pairs. Broadcast is right
    # at this scale; at 100 TB these become two linear shuffle joins on
    # doc_id — still nothing O(n²).
    members = F.expr("sort_array(collect_list(doc_id))")
    pair_expr = F.expr(
        "flatten(transform(sequence(0, size(members) - 2),"
        " i -> transform(sequence(i + 1, size(members) - 1),"
        "   j -> struct(members[i] as doc_a, members[j] as doc_b))))"
    )
    pairs = (
        bands.groupBy("band_key")
        .agg(members.alias("members"))
        # skew guard: degenerate stop-band buckets (> MH_BUCKET_CAP) drop
        # whole — see MH_BUCKET_CAP (operators/lsh.py) for the policy +
        # where the drop is surfaced (band_skew_profile, scale_smoke)
        .filter(F.size("members").between(2, MH_BUCKET_CAP))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = F.broadcast(
        sig.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"),
            F.col("n_copies").alias("copies_a"),
        )
    )
    sb = F.broadcast(
        sig.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"),
            F.col("n_copies").alias("copies_b"),
        )
    )
    est = minhash_est_jaccard("sa", "sb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= MH_EST_THRESHOLD)
        .select("doc_a", "doc_b", "est_jaccard", "copies_a", "copies_b")
    )


@query(
    "band_skew_profile",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
), t AS (
  SELECT doc_id, {WS_TOKS_D} AS toks FROM canon
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id, list_transform(shingles, s -> {H32_D.format(x='s')}) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, {MH_K}),
             k -> list_min(list_transform(hashes, h -> (h * (2*k + 1) + (12345 + k)) % {MH_P}))) AS sig
  FROM hs
), bands AS (
  SELECT doc_id,
         unnest(list_transform(range(0, {MH_BANDS}),
             j -> concat_ws(',', j, sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]))) AS band_key
  FROM sig
), bsz AS (
  SELECT band_key, count(*) AS n FROM bands GROUP BY 1
)
SELECT count(*) AS n_buckets,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
       max(n) AS max_bucket,
       CAST(sum(CASE WHEN n > {MH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       CAST(sum(CASE WHEN n BETWEEN 2 AND {MH_BUCKET_CAP} THEN n * (n - 1) // 2 ELSE 0 END)
            AS BIGINT) AS candidates_kept,
       CAST(sum(CASE WHEN n > {MH_BUCKET_CAP} THEN n * (n - 1) // 2 ELSE 0 END)
            AS BIGINT) AS candidates_dropped
FROM bsz
""",
)
def band_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew guard's observability face (round-2 verdict item #8's
    'no silent truncation'): bucket-size statistics of the MinHash LSH
    band index on THIS corpus — total buckets, multi-member buckets, the
    max bucket, and exactly how many buckets / candidate pairs the
    MH_BUCKET_CAP guard drops. An operator that caps must publish what it
    capped; run this alongside minhash_lsh_pairs whenever dedup recall
    matters (candidates_dropped == 0 means the guard was a no-op).

    Scale: the band index is one shuffle; the profile is a two-level
    count aggregation over it — strictly cheaper than the pair join it
    audits."""
    d = load(spark, sf_dir, "documents")
    # collapse-first by VALUE, exactly like minhash_lsh_pairs above: one
    # text-keyed groupBy (map-side partials collapse copies before the
    # wire) instead of the md5-groupBy + doc_id join-back this query
    # used to run — the join-back still shuffled the text by doc_id, so
    # grouping by value is one exchange (and one scan) fewer for the
    # same canonical set (guide §2.4).
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    bands = minhash_bands_df(minhash_signatures_df(canon.select("doc_id", "text")))
    bsz = bands.groupBy("band_key").agg(F.count("*").alias("n"))
    kept_pairs = F.expr(f"CASE WHEN n BETWEEN 2 AND {MH_BUCKET_CAP} THEN n * (n - 1) div 2 ELSE 0 END")
    dropped_pairs = F.expr(f"CASE WHEN n > {MH_BUCKET_CAP} THEN n * (n - 1) div 2 ELSE 0 END")
    return bsz.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).cast("bigint").alias("n_multi_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > MH_BUCKET_CAP, 1).otherwise(0)).cast("bigint").alias("n_over_cap"),
        F.sum(kept_pairs).cast("bigint").alias("candidates_kept"),
        F.sum(dropped_pairs).cast("bigint").alias("candidates_dropped"),
    )


@query(
    "simhash_signatures",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {WS_TOKS_D} AS toks FROM documents
), hs AS (
  SELECT doc_id, lang,
         list_transform(toks, s -> {H32_D.format(x='s')}) AS hashes
  FROM t
)
SELECT doc_id, lang,
       CAST(list_sum(list_transform(range(0, 32), i ->
           CASE WHEN list_sum(list_transform(hashes,
                    h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
FROM hs
""",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) document signatures (north star dedup family):
    per-bit majority vote over token hashes, packed into one BIGINT —
    near-dups differ in few bits (compare with bit_count(a ^ b)).
    Pure JVM nested higher-order expressions; one narrow scan, no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    # One pass over the token-hash array with a 32-wide per-bit vote
    # accumulator, then pack the sign vector into a BIGINT in the finish
    # lambda. The outer-loop-over-bits form re-inlines (and so recomputes)
    # the md5 token hashing 32 times under projection collapse — measured
    # 5.9s -> 0.4s at sf0.1.
    return d.select(
        "doc_id",
        "lang",
        F.expr(WS_TOKS_S).alias("toks"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"aggregate(transform(toks, s -> {H32_S.format(x='s')}),"
            " array_repeat(cast(0 as bigint), 32),"
            " (acc, h) -> zip_with(acc, sequence(0, 31),"
            "   (c, i) -> c + IF((shiftright(h, i) & 1) = 1, 1, -1)),"
            " acc -> aggregate(zip_with(acc, sequence(0, 31),"
            "   (c, i) -> IF(c > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),"
            "   cast(0 as bigint), (a, x) -> a + x))"
        ).alias("simhash"),
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_distinct({WS_TOKS_D}) AS toks FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.toks, b.toks)) AS n_common,
       len(list_distinct(a.toks || b.toks)) AS n_union,
       len(list_intersect(a.toks, b.toks))
         / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity (north star: n-gram Jaccard near-dup
    verification stage). Demonstrated on adjacent doc_id pairs — in the
    full dedup flow this verifier runs on minhash_lsh_pairs candidates,
    keeping it O(candidates), never O(n²)."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.expr(f"array_distinct({WS_TOKS_S})").alias("toks"))
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .withColumn("n_common", F.expr("size(array_intersect(toks_a, toks_b))"))
        .withColumn("n_union", F.expr("size(array_distinct(concat(toks_a, toks_b)))"))
        .withColumn("jaccard", F.col("n_common") / F.col("n_union").cast("double"))
        .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
    )


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _marker_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(toks, t -> t IN ({lst})))"


@query(
    "lang_id_heuristic",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {WS_TOKS_D} AS toks FROM documents
), c AS (
  SELECT doc_id, lang,
         {_marker_sql('en')} AS c_en,
         {_marker_sql('es')} AS c_es,
         {_marker_sql('fr')} AS c_fr,
         {_marker_sql('de')} AS c_de
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
            WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
            WHEN c_fr >= c_de THEN 'fr'
            ELSE 'de' END AS predicted_lang,
       c_en, c_es, c_fr, c_de
FROM c
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (north star text analysis):
    per-language stopword hit counts → argmax with a fixed priority-order
    tiebreak. (The synthetic corpus shares one vocabulary across its lang
    labels, so accuracy is not meaningful here; the operator shape —
    n-gram/marker scoring entirely in JVM array expressions — is what a
    real fastText-style scorer would replace.)"""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.expr(WS_TOKS_S).alias("toks"))
    def _count(ws: tuple) -> "F.Column":
        return F.size(F.filter(F.col("toks"), lambda x: x.isin(*list(ws))))

    counts = {lang: _count(ws) for lang, ws in _MARKERS.items()}
    pred = (
        F.when(
            (counts["en"] >= counts["es"])
            & (counts["en"] >= counts["fr"])
            & (counts["en"] >= counts["de"]),
            "en",
        )
        .when((counts["es"] >= counts["fr"]) & (counts["es"] >= counts["de"]), "es")
        .when(counts["fr"] >= counts["de"], "fr")
        .otherwise("de")
    )
    return t.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        counts["en"].alias("c_en"),
        counts["es"].alias("c_es"),
        counts["fr"].alias("c_fr"),
        counts["de"].alias("c_de"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN over embeddings
# ---------------------------------------------------------------------------


@query(
    "embedding_lsh_ann",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM embeddings
), bv AS (
  SELECT vec_id, emb, nrm, ({bucket_sql(ANN_PLANES)}) AS bucket FROM v
), q AS (SELECT * FROM bv WHERE vec_id < 10),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
         list_aggregate(list_transform(range(1, {EMBED_DIM} + 1),
             i -> q.emb[i] * c.emb[i]), 'sum') / (q.nrm * c.nrm) AS sim
  FROM q JOIN bv c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, round(sim, 5) AS cosine_sim, bucket
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM cand)
WHERE rn = 1
""",
)
def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (north star similarity-search scale path):
    8 signed projections bucket each vector into one of 256 cells; the
    nearest-neighbor search joins only within a bucket — candidate count
    drops ~256× vs brute force while high-cosine pairs collide with high
    probability.

    Scale: buckets are hash-partitionable; planes are broadcast literals;
    per-bucket top-k is a bounded window. Recall/latency tunes via plane
    count (more planes → smaller buckets) or multi-probe."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sq = F.aggregate(F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    bv = e.withColumn("nrm", F.sqrt(sq)).withColumn("bucket", bucket_col(ANN_PLANES))

    q = bv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    dot_qc = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    cand = (
        bv.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("sim", dot_qc / (F.col("q_nrm") * F.col("nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim", 5).alias("cosine_sim"),
            "bucket",
        )
    )


# ---------------------------------------------------------------------------
# multimodal binary plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       ascii(substr(text, 1, 1)) AS first_byte,
       ascii(substr(text, length(text), 1)) AS last_byte,
       CAST(list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substr(text, i, 1)))) % 256 AS INT) AS checksum
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (north star): text → opaque binary
    payload + metadata struct → Arrow-batched mapInPandas featurization
    (operators/multimodal.py). The byte-level features stand in for a real
    decode step (decoders stubbed — not installed here); the schema, batch
    shape, and partition-parallel execution are the real thing."""
    d = load(spark, sf_dir, "documents")
    return featurize_binary(with_binary_payload(d))
