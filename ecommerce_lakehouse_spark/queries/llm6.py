"""Training-data curation operators, wave 6: higher-order statistical
LM scoring (stupid-backoff trigram, the KenLM-family shape) and
sketch-based distinct counting (KMV) — the "score every document against
a corpus LM" and "how big is this domain, cheaply" primitives of a
100 TB text pipeline.

All hot-path logic is JVM Column expressions; cross-engine float rule:
round each log2 ONCE into integer nano-bits, accumulate and divide in
exact integer arithmetic — no float association, no decimal precision
loss, no round-half boundaries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.text import ALPHA_TOKS_D
from ecommerce_lakehouse_spark.queries import query
from ecommerce_lakehouse_spark.tables import load


def _tokens(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        F.filter(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "),
            lambda x: x != "",
        ).alias("t"),
    )


@query(
    "trigram_backoff_scores",
    oracle=f"""
WITH d AS (SELECT doc_id, {ALPHA_TOKS_D} AS t FROM documents),
tr AS (SELECT * FROM d
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80),
n AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_tok FROM tr),
u1 AS (SELECT u AS w, count(*) AS c FROM (SELECT unnest(t) AS u FROM tr) GROUP BY 1),
b2 AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c FROM (
         SELECT unnest(list_transform(range(1, len(t)), i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
         FROM tr WHERE len(t) >= 2) GROUP BY 1, 2),
t3 AS (SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, count(*) AS c FROM (
         SELECT unnest(list_transform(range(1, len(t) - 1),
                i -> {{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]}})) AS u
         FROM tr WHERE len(t) >= 3) GROUP BY 1, 2, 3),
dt AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
         SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                i -> {{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]}})) AS u
         FROM d WHERE len(t) >= 3)),
dk AS (SELECT doc_id, w1, w2, w3, count(*) AS k FROM dt GROUP BY 1, 2, 3, 4),
corpus_tri AS (SELECT DISTINCT w1, w2, w3 FROM dk),
lp AS (
  SELECT ct.w1, ct.w2, ct.w3,
         CASE WHEN t3.c IS NOT NULL THEN 1
              WHEN b23.c IS NOT NULL THEN 2
              WHEN u3.c IS NOT NULL THEN 3 ELSE 4 END AS tier,
         CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / b12.c
              WHEN b23.c IS NOT NULL THEN CAST(0.4 AS DOUBLE) * b23.c / u2.c
              WHEN u3.c IS NOT NULL THEN CAST(0.16 AS DOUBLE) * u3.c / n.n_tok
              ELSE CAST(0.16 AS DOUBLE) / n.n_tok END AS p
  FROM corpus_tri ct
  LEFT JOIN t3 ON ct.w1 = t3.w1 AND ct.w2 = t3.w2 AND ct.w3 = t3.w3
  LEFT JOIN b2 b12 ON ct.w1 = b12.w1 AND ct.w2 = b12.w2
  LEFT JOIN b2 b23 ON ct.w2 = b23.w1 AND ct.w3 = b23.w2
  LEFT JOIN u1 u2 ON ct.w2 = u2.w
  LEFT JOIN u1 u3 ON ct.w3 = u3.w
  CROSS JOIN n),
lpu AS (SELECT w1, w2, w3, tier,
               CAST(round(log2(p) * 1000000000, 0) AS BIGINT) AS ubits FROM lp),
agg AS (
  SELECT dk.doc_id,
         CAST(sum(k) AS BIGINT) AS n_trigrams,
         CAST(sum(CASE WHEN tier > 1 THEN k ELSE 0 END) AS BIGINT) AS n_backoff,
         CAST(sum(CASE WHEN tier = 4 THEN k ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(k * (-ubits)) AS BIGINT) AS pos_units
  FROM dk JOIN lpu ON dk.w1 = lpu.w1 AND dk.w2 = lpu.w2 AND dk.w3 = lpu.w3
  GROUP BY 1)
SELECT doc_id, n_trigrams, n_backoff, n_oov,
       CAST((2 * pos_units + n_trigrams) // (2 * n_trigrams) AS DOUBLE)
         / 1000000000 AS bits_per_trigram
FROM agg
""",
)
def trigram_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007 — the
    web-scale KenLM-family shape; complements `bigram_lm_score`'s
    add-alpha bigram with a HIGHER-ORDER model and graceful degradation):
    train unigram/bigram/trigram counts on the deterministic 80% hash
    split (same bucket rule as train_val_test_split), then score every
    document's trigrams through the backoff chain
    S(w3|w1w2) = c123/c12, else 0.4*c23/c2, else 0.16*c3/N, else
    0.16/N (OOV floor) — per-doc bits-per-trigram plus integer backoff
    and OOV counts (the held-out docs exercise every tier).

    Cross-engine determinism: each distinct trigram's log2 is rounded
    ONCE into integer nano-bits (x1e9); per-doc totals are exact BIGINT
    sums, and the per-doc average is exact integer half-up division — a
    double quotient rounded at 9 decimals lands exactly on round-half
    boundaries (sum/12 does at sf0.01) where engines disagree.

    Scale: the model is three vocabulary-bounded groupBys; the backoff
    chain's five lookups join the CORPUS-DISTINCT trigram set (vocab^3-
    bounded), never the document stream — docs then join the finished
    (trigram -> nano-bits) table once on a fixed-width key. Hot
    trigrams are one model row each; everything is map-side HOF
    expansion plus vocabulary-bounded shuffles."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(d)
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(100),
    )
    tr = toks.filter(bucket < 80)
    ndf = tr.agg(F.sum(F.size("t")).cast("long").alias("n_tok"))
    u1 = (
        tr.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def _bigrams(df):
        return df.filter(F.size("t") >= 2).select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("g")
        ).select("g.w1", "g.w2")

    def _trigrams(df, keep):
        return df.filter(F.size("t") >= 3).select(
            *keep,
            F.explode(
                F.expr(
                    "zip_with(zip_with(slice(t, 1, size(t)-2),"
                    " slice(t, 2, size(t)-2), (a, b) -> struct(a, b)),"
                    " slice(t, 3, size(t)-2),"
                    " (p, c) -> struct(p.a AS w1, p.b AS w2, c AS w3))"
                )
            ).alias("g"),
        ).select(*keep, "g.w1", "g.w2", "g.w3")

    b2 = _bigrams(tr).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    t3 = (
        _trigrams(tr, [])
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dk = (
        _trigrams(toks, ["doc_id"])
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    corpus_tri = dk.select("w1", "w2", "w3").distinct()
    b12 = b2.select(
        F.col("w1").alias("w1"), F.col("w2").alias("w2"), F.col("c").alias("c12")
    )
    b23 = b2.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c").alias("c23")
    )
    u2 = u1.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    u3 = u1.select(F.col("w").alias("w3"), F.col("c").alias("c3"))
    t3n = t3.withColumnRenamed("c", "c123")
    p = (
        F.when(
            F.col("c123").isNotNull(),
            F.col("c123").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(0.4) * F.col("c23") / F.col("c2"),
        )
        .when(
            F.col("c3").isNotNull(),
            F.lit(0.16) * F.col("c3") / F.col("n_tok"),
        )
        .otherwise(F.lit(0.16) / F.col("n_tok"))
    )
    tier = (
        F.when(F.col("c123").isNotNull(), F.lit(1))
        .when(F.col("c23").isNotNull(), F.lit(2))
        .when(F.col("c3").isNotNull(), F.lit(3))
        .otherwise(F.lit(4))
    )
    lpu = (
        corpus_tri.join(t3n, on=["w1", "w2", "w3"], how="left")
        .join(b12, on=["w1", "w2"], how="left")
        .join(b23, on=["w2", "w3"], how="left")
        .join(u2, on="w2", how="left")
        .join(u3, on="w3", how="left")
        .crossJoin(F.broadcast(ndf))
        .select(
            "w1",
            "w2",
            "w3",
            tier.alias("tier"),
            F.round(F.log2(p) * F.lit(1000000000.0), 0)
            .cast("long")
            .alias("ubits"),
        )
    )
    return (
        dk.join(lpu, on=["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            F.sum(F.when(F.col("tier") > 1, F.col("k")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_backoff"),
            F.sum(F.when(F.col("tier") == 4, F.col("k")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
            F.sum(F.col("k") * -F.col("ubits")).cast("long").alias("__pos"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_backoff",
            "n_oov",
            (
                F.expr(
                    "(2 * __pos + n_trigrams) DIV (2 * n_trigrams)"
                ).cast("double")
                / F.lit(1000000000.0)
            ).alias("bits_per_trigram"),
        )
    )


@query(
    "kmv_distinct_sketch",
    oracle="""
WITH h AS (
  SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM orders),
exact AS (SELECT count(*) AS n_exact FROM h),
kth AS (SELECT max(hv) AS kth_hash, count(*) AS k_used
        FROM (SELECT hv FROM h ORDER BY hv LIMIT 256))
SELECT CAST(256 AS BIGINT) AS k,
       CAST(n_exact AS BIGINT) AS n_exact,
       round(CASE WHEN n_exact <= 256 THEN CAST(n_exact AS DOUBLE)
                  ELSE (k_used - 1) /
                       (CAST(kth_hash AS DOUBLE) / 1152921504606846976.0)
             END, 6) AS kmv_estimate
FROM exact CROSS JOIN kth
""",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    2002; the Theta-sketch family's core) over the orders table's
    customer domain: hash every key, keep the k=256 smallest hash
    values, estimate |D| ≈ (k−1)/frac(kth-min). The answer rides next
    to the exact count so the query IS its own accuracy audit (expected
    relative error ~1/sqrt(k−2) ≈ 6%). Below k distinct values the
    sketch IS the exact set (the CASE arm) — at sf0.001 that branch
    answers; from sf0.01 up the estimator branch runs (the documents
    table's 31-token vocabulary would never leave the exact branch,
    hence the customer domain).

    The hash is md5 truncated to 60 bits — chosen because BOTH engines
    compute identical md5 hex, so the sketch is deterministic
    cross-engine (Spark xxhash64 and DuckDB hash() don't match, a
    portable sketch must pick a portable hash).

    Scale: the k smallest of a distributed set is TakeOrdered — each
    partition ships only its local top-k, no global sort, no collect;
    the sketch state is O(k) regardless of corpus size, and UNLIKE an
    exact countDistinct there is no vocabulary-sized shuffle: this is
    what you run when the vocabulary itself doesn't fit."""
    o = load(spark, sf_dir, "orders")
    h = (
        o.select(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("hv")
        )
        .distinct()
    )
    exact = h.agg(F.count(F.lit(1)).alias("n_exact"))
    kth = (
        h.orderBy("hv")
        .limit(256)
        .agg(F.max("hv").alias("kth_hash"), F.count(F.lit(1)).alias("k_used"))
    )
    return exact.crossJoin(F.broadcast(kth)).select(
        F.lit(256).cast("long").alias("k"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(
            F.when(
                F.col("n_exact") <= 256, F.col("n_exact").cast("double")
            ).otherwise(
                (F.col("k_used") - 1)
                / (F.col("kth_hash").cast("double") / F.lit(1152921504606846976.0))
            ),
            6,
        ).alias("kmv_estimate"),
    )


# DSIR hashed-ngram model, shared by the scoring and resampling queries:
# per-doc bucket counts + the 256-row smoothed log-ratio table
_DSIR_CTE = f"""
WITH d AS (SELECT doc_id, lang, {ALPHA_TOKS_D} AS t FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM d
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
  FROM d WHERE len(t) >= 2),
feat AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 256 AS b,
         count(*) AS c
  FROM grams GROUP BY 1, 2, 3),
tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM feat WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM feat WHERE lang <> 'en' GROUP BY b),
tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM tgt) AS tp,
               (SELECT CAST(sum(c) AS BIGINT) FROM raw) AS tq),
lr AS (
  SELECT bs.b,
         CAST(round(ln((coalesce(t.c, 0) + 1.0) / (tot.tp + 256)) * 1e9, 0) AS BIGINT)
       - CAST(round(ln((coalesce(r.c, 0) + 1.0) / (tot.tq + 256)) * 1e9, 0) AS BIGINT)
           AS l
  FROM (SELECT DISTINCT b FROM feat) bs
  LEFT JOIN tgt t USING (b) LEFT JOIN raw r USING (b) CROSS JOIN tot)
"""


def _dsir_feat_lr(spark: SparkSession, sf_dir: str):
    """(feat, lr): per-(doc, lang, bucket) counts and the 256-row
    broadcastable nano-log-ratio model — the Spark twin of _DSIR_CTE."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.filter(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "),
            lambda x: x != "",
        ).alias("t"),
    )
    uni = toks.select("doc_id", "lang", F.explode("t").alias("g"))
    bi = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("g"),
    )
    feat = (
        uni.unionByName(bi)
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long"),
                F.lit(256),
            ).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_tgt = F.col("lang") == "en"
    model = feat.groupBy("b").agg(
        F.sum(F.when(is_tgt, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tc"),
        F.sum(F.when(~is_tgt, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rc"),
    )
    totals = model.agg(
        F.sum("tc").cast("long").alias("tp"), F.sum("rc").cast("long").alias("tq")
    )

    def nanos(cnt, tot):
        return F.round(
            F.log((F.col(cnt) + F.lit(1.0)) / (F.col(tot) + F.lit(256)))
            * F.lit(1e9),
            0,
        ).cast("long")

    lr = model.crossJoin(F.broadcast(totals)).select(
        "b", (nanos("tc", "tp") - nanos("rc", "tq")).alias("l")
    )
    return feat, lr


@query(
    "dsir_importance_scores",
    oracle=_DSIR_CTE
    + """
SELECT f.doc_id,
       CAST(sum(f.c) AS BIGINT) AS n_grams,
       CAST(sum(f.c * lr.l) AS BIGINT) AS logw_nanos
FROM feat f JOIN lr USING (b)
WHERE f.lang <> 'en'
GROUP BY f.doc_id
ORDER BY logw_nanos DESC, f.doc_id
LIMIT 50
""",
)
def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit two bag-of-hashed-
    ngram unigram models — target p on the English slice, raw q on the
    rest — over unigram+bigram features hashed into 256 buckets, then
    score every raw document log w(d) = Σ_b c_db·(ln p_b − ln q_b) with
    add-1 smoothing and return the top-50 candidates for promotion into
    the target mixture (the deterministic top-k variant of the paper's
    Gumbel-top-k resample; seeded Gumbel noise is a rand()-free add-on).

    Cross-engine determinism: features hash with md5 (the one hash both
    engines compute identically); each bucket's ln is rounded ONCE into
    integer nanos, per-doc totals are exact BIGINT sums of
    count×nano-ratio — no float association anywhere.

    Scale: the model is a FIXED 256-row table regardless of corpus size
    (that's the point of hashed features) — built with one fixed-width
    shuffle, broadcast back to score; per-doc feature counts are a
    (doc_id, bucket) groupBy with bucket fan-out ≤ 256 per doc; the
    top-50 is TakeOrdered (per-partition heads, no global sort)."""
    feat, lr = _dsir_feat_lr(spark, sf_dir)
    return (
        feat.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), on="b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("l")).cast("long").alias("logw_nanos"),
        )
        .orderBy(F.desc("logw_nanos"), "doc_id")
        .limit(50)
    )


_BPE_STEPS = 32  # fixed training budget shared with the oracle; the
# corpus vocabulary supports 89 merges before pair exhaustion, so every
# SF trains the full 32 without hitting the empty-pair edge


def _bpe_train_sql(steps: int = _BPE_STEPS) -> str:
    """Shared oracle prefix: BPE training CTEs w0/s0 then
    p{k}/t{k}/s{k} per merge step (s{k} = the word table with merge k
    applied). Consumers append their own final SELECT; unreferenced
    trailing CTEs are never evaluated by DuckDB."""
    parts = [
        f"""WITH w0 AS (
  SELECT u AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({ALPHA_TOKS_D}) AS u FROM documents) GROUP BY 1),
s0 AS MATERIALIZED (SELECT word, freq,
              ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS seq
       FROM w0)"""
    ]
    for k in range(1, steps + 1):
        parts.append(
            f"""p{k} AS (
  SELECT l || ' ' || r AS pair, l || r AS token, CAST(sum(freq) AS BIGINT) AS wc
  FROM (SELECT freq, unnest(list_transform(range(1, len(t)), i ->
               {{'l': t[i], 'r': t[i+1]}})) AS u
        FROM (SELECT freq, list_filter(string_split(seq, ' '), x -> x <> '') AS t
              FROM s{k-1}) WHERE len(t) >= 2)
       , LATERAL (SELECT u.l AS l, u.r AS r) z
  GROUP BY 1, 2),
t{k} AS MATERIALIZED (SELECT pair, token, wc FROM p{k}
         ORDER BY wc DESC, token, pair LIMIT 1),
s{k} AS MATERIALIZED (SELECT word, freq,
              replace(seq,
                      ' ' || COALESCE((SELECT pair FROM t{k}), chr(1)) || ' ',
                      ' ' || COALESCE((SELECT token FROM t{k}), chr(1)) || ' ')
                AS seq FROM s{k-1})"""
        )
    return ",\n".join(parts)


@query(
    "bpe_merge_steps",
    oracle=_bpe_train_sql()
    + "\nSELECT 1 AS step, pair, token, wc FROM t1\n"
    + "\n".join(
        f"UNION ALL SELECT {k}, pair, token, wc FROM t{k}"
        for k in range(2, _BPE_STEPS + 1)
    )
    + "\nORDER BY step",
)
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 32 merges (Sennrich et al. 2016 — the
    GPT/Llama vocab-construction algorithm): pre-tokenize to words, count
    word frequencies ONCE, split words to character symbols, then
    iteratively (a) count adjacent symbol pairs weighted by word
    frequency, (b) merge the most frequent pair corpus-wide (ties break
    lexicographically), (c) apply the merge left-to-right non-overlapping
    to every word. Returns the learned merge table (step, pair, token,
    weighted count) — the artifact a tokenizer ships.

    Scale: THE trick is that BPE never touches the corpus after the
    first pass — each iteration runs over the distinct-WORD frequency
    table (vocabulary-bounded: millions of rows at 100 TB, not
    trillions), so the round loop is a FIXED-COST problem — run here as
    one control-plane collect per merge with literal replace re-entry
    (operators/bpe.py: 32 micro-actions over one checkpointed
    4-partition vocab frame, flat lineage, no per-round checkpoint
    jobs). Symbol sequences ride as padded strings so the merge apply
    is a single JVM ``replace`` (left-to-right non-overlapping in both
    engines — greedy BPE order)."""
    merges, _ = _bpe_train(spark, sf_dir)
    return merges.orderBy("step")


# The training loop itself is a control-plane operator (grouped 1-row
# top-merge collects + literal replace re-entry) and lives in
# operators/bpe.py; re-exported here under the historical names for the
# tests and the encode/persist consumers below.
from ecommerce_lakehouse_spark.operators.bpe import (  # noqa: E402
    _BPE_CACHE,
    bpe_top_merge as _bpe_top_merge,
    bpe_train as _bpe_train,
)


def bpe_train_to_table(
    spark: SparkSession, sf_dir: str, root: str, steps: int = _BPE_STEPS
):
    """Train and PERSIST the tokenizer as lakehouse tables: ``root/merges``
    (step, pair, token, wc — the artifact a tokenizer ships) and
    ``root/vocab`` (word, freq, seq — the post-merge symbol sequences the
    encode join reads). Both are committed LakeTable versions, so a
    downstream encode job reads a pinned, time-travelable vocabulary
    instead of retraining, and a retrain is an atomic overwrite commit.

    Returns the (merges, vocab) LakeTable handles."""
    import os

    from ecommerce_lakehouse_spark.lake.table import LakeTable

    merges, wf = _bpe_train(spark, sf_dir, steps)
    mt = LakeTable(spark, os.path.join(root, "merges"))
    vt = LakeTable(spark, os.path.join(root, "vocab"))
    mt.overwrite(merges)
    vt.overwrite(wf)
    return mt, vt


@query(
    "bpe_encode_stats",
    oracle=_bpe_train_sql()
    + f""",
dw AS (
  SELECT doc_id, u AS word
  FROM (SELECT doc_id, unnest({ALPHA_TOKS_D}) AS u FROM documents)),
wt AS (
  SELECT word,
         CAST(len(list_filter(string_split(seq, ' '), x -> x <> ''))
              AS BIGINT) AS n_sym,
         CAST(len(word) AS BIGINT) AS n_chr
  FROM s32)
SELECT dw.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wt.n_chr) AS BIGINT) AS n_chars,
       CAST(sum(wt.n_sym) AS BIGINT) AS n_tokens,
       CAST(sum(wt.n_chr) AS DOUBLE) / sum(wt.n_sym) AS chars_per_token
FROM dw JOIN wt USING (word)
GROUP BY 1
""",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the tokenizer `bpe_merge_steps` trains:
    per-document word/char/BPE-token counts and the chars-per-token
    compression ratio after the 32 learned merges — the fertility metric that
    decides whether a vocabulary is worth shipping, and the token
    accounting a training-data pipeline bills by.

    Scale (the reason encoding is a JOIN, not a fold): after training,
    every distinct WORD already carries its final symbol sequence in the
    vocabulary-bounded word table, so encoding the corpus is explode →
    hash-join to that table (broadcast at dictionary sizes) → per-doc
    aggregate. No per-token iteration ever touches corpus rows, and the
    merge loop itself stays vocabulary-bounded (bpe_merge_steps'
    docstring). Counts are exact BIGINTs; the single ratio is one IEEE
    division. Docs with zero alphabetic words have no token accounting
    row, by contract."""
    _, wf = _bpe_train(spark, sf_dir)
    wt = wf.select(
        "word",
        F.size(F.filter(F.split("seq", " "), lambda x: x != ""))
        .cast("long")
        .alias("n_sym"),
        F.length("word").cast("long").alias("n_chr"),
    )
    dw = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "
                ),
                lambda x: x != "",
            )
        ).alias("word"),
    )
    return (
        dw.join(F.broadcast(wt), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chr").cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
            (F.sum("n_chr").cast("double") / F.sum("n_sym")).alias(
                "chars_per_token"
            ),
        )
    )


@query(
    "dsir_gumbel_resample",
    oracle=_DSIR_CTE
    + """,
scores AS (
  SELECT f.doc_id, CAST(sum(f.c * lr.l) AS BIGINT) AS logw_nanos
  FROM feat f JOIN lr USING (b)
  WHERE f.lang <> 'en' GROUP BY f.doc_id),
noisy AS (
  SELECT doc_id, logw_nanos,
         logw_nanos + CAST(round(-ln(-ln(
             (CAST('0x' || substr(md5('gumbel|' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) + 0.5) / 1152921504606846976.0
         )) * 1e9, 0) AS BIGINT) AS key_nanos
  FROM scores)
SELECT doc_id, logw_nanos, key_nanos
FROM noisy
ORDER BY key_nanos DESC, doc_id
LIMIT 30
""",
)
def dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection step — Gumbel-top-k importance
    RESAMPLING (Xie et al. 2023 §2.2; Vieira 2014's Gumbel-max trick):
    sampling k documents without replacement with probability ∝ w(d)
    equals taking the top-k of log w(d) + G_d where G_d is standard
    Gumbel noise. The noise is SEEDED, not rand(): u_d from a salted
    md5 of the doc id mapped into (0,1) — (h + 0.5)/2^60 over the
    60-bit hash so u is never 0 or 1 — then G = −ln(−ln u). The same
    doc draws the same noise in both engines, on every retry, and
    after any repartition: reproducible sampling is a pipeline
    requirement, not a nicety (compare hash_sample_stratified).

    Cross-engine determinism: the Gumbel transform's two lns run on
    bit-identical double inputs and round ONCE into nanos; the noisy
    key is then exact BIGINT addition on the nano-unit importance
    score from the shared 256-bucket model.

    Scale: noise is map-side arithmetic on the already-aggregated
    per-doc score rows; top-30 is TakeOrdered. Nothing here adds a
    shuffle beyond the scoring aggregation itself."""
    feat, lr = _dsir_feat_lr(spark, sf_dir)
    scores = (
        feat.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), on="b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("l")).cast("long").alias("logw_nanos"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("gumbel|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(1152921504606846976.0)
    gumbel_nanos = F.round(-F.log(-F.log(u)) * F.lit(1e9), 0).cast("long")
    return (
        scores.select(
            "doc_id",
            "logw_nanos",
            (F.col("logw_nanos") + gumbel_nanos).alias("key_nanos"),
        )
        .orderBy(F.desc("key_nanos"), "doc_id")
        .limit(30)
    )


@query(
    "cms_heavy_hitters",
    oracle="""
WITH exact AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_cnt FROM orders GROUP BY 1),
cells AS (
  SELECT e.o_custkey, e.exact_cnt, ids.i,
         CAST('0x' || substr(md5(CAST(ids.i AS VARCHAR) || '|' ||
                                 CAST(e.o_custkey AS VARCHAR)), 1, 8) AS BIGINT)
           % 1024 AS b
  FROM exact e CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ids),
sketch AS (
  SELECT i, b, CAST(sum(exact_cnt) AS BIGINT) AS cell FROM cells GROUP BY 1, 2),
est AS (
  SELECT c.o_custkey, CAST(min(s.cell) AS BIGINT) AS est_cnt
  FROM cells c JOIN sketch s USING (i, b) GROUP BY 1)
SELECT e.o_custkey, x.exact_cnt, e.est_cnt,
       CAST(e.est_cnt - x.exact_cnt AS BIGINT) AS overestimate
FROM est e JOIN exact x USING (o_custkey)
ORDER BY est_cnt DESC, o_custkey
LIMIT 20
""",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005)
    over orders.o_custkey: a depth-4 x width-1024 sketch of per-customer
    order counts, then the top-20 customers ranked by their SKETCH
    estimate, each row carrying the exact count and the overestimate
    (CMS never underestimates: est_cnt >= exact_cnt always, and the
    overestimate column makes the collision error auditable).

    Contrast with key_skew_profile (queries/stats.py:821), which is the
    exact top-k: the sketch's memory is a FIXED 4096 cells no matter how
    many distinct keys exist, so at 100 TB the sketch fits in one
    broadcast while an exact per-key table may not. Hashes are md5-based
    (the one hash both engines compute identically), so the same key
    lands in the same cells in Spark, DuckDB, on every retry, and under
    any partitioning.

    Scale: one partial-aggregating scan builds per-key counts; the
    sketch build is a fixed-width groupBy (4 x 1024 cells regardless of
    corpus size); estimation broadcasts the 4096-cell sketch back and
    takes min over the 4 rows per key; top-20 is TakeOrdered (per-
    partition heads, no global sort). The exact_cnt column here reuses
    the per-key agg the sketch was folded from — in a pure-sketch
    deployment that side drops and only the 4096 cells survive."""
    o = load(spark, sf_dir, "orders")
    exact = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )

    def bucket(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{i}|"), F.col("o_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    cells = exact.select(
        "o_custkey",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("i"), bucket(i).alias("b")
                    )
                    for i in range(4)
                ]
            )
        ).alias("ib"),
    ).select("o_custkey", "exact_cnt", "ib.i", "ib.b")
    sketch = cells.groupBy("i", "b").agg(
        F.sum("exact_cnt").cast("long").alias("cell")
    )
    est = (
        cells.join(F.broadcast(sketch), on=["i", "b"])
        .groupBy("o_custkey")
        .agg(
            F.min("cell").cast("long").alias("est_cnt"),
            # constant within each o_custkey group; max() rather than
            # first() so determinism is by construction, not by argument
            F.max("exact_cnt").alias("exact_cnt"),
        )
    )
    return (
        est.select(
            "o_custkey",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("est_cnt"), "o_custkey")
        .limit(20)
    )


@query(
    "source_overlap_kmv",
    oracle=r"""
WITH toks AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT source,
         CAST('0x' || substr(md5(u), 1, 15) AS BIGINT) AS h
  FROM (SELECT source,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u
        FROM toks WHERE len(t) >= 3)),
rk AS (SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS r
       FROM sh),
sk AS (SELECT source, list_sort(list(h)) AS sig
       FROM rk WHERE r <= 128 GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         a.sig AS sa, b.sig AS sb
  FROM sk a JOIN sk b ON a.source < b.source),
m AS (
  SELECT src_a, src_b, sa, sb,
         list_sort(list_distinct(sa || sb))[1:128] AS merged
  FROM pairs)
SELECT src_a, src_b,
       CAST(len(merged) AS BIGINT) AS k_used,
       CAST(len(list_filter(merged,
            x -> list_contains(sa, x) AND list_contains(sb, x)))
            AS BIGINT) AS n_shared,
       CAST(len(list_filter(merged,
            x -> list_contains(sa, x) AND list_contains(sb, x)))
            AS DOUBLE) / len(merged) AS jaccard_est
FROM m
ORDER BY src_a, src_b
""",
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix via KMV set sketches (Beyer et
    al. 2007) — the Dolma-style 'which sources duplicate each other'
    corpus audit: each source is summarized by its 128 smallest md5
    shingle hashes (3-gram shingles), and every source pair's shingle
    Jaccard is estimated from the k smallest of the sketch union —
    |union-head ∩ A ∩ B| / |union-head|, the standard KMV estimator.

    Scale: the exact alternative (self-join distinct (source, shingle)
    on shingle) is O(sum over shingles of source-pairs) and explodes on
    hot shingles; the sketch path touches raw text once map-side,
    reduces each source to a FIXED 128 values (per-source rank is a
    partitioned window, never global), and the pairwise stage operates
    on sources^2/2 rows of 128-length int arrays — independent of
    corpus size. The jaccard_est division is a single IEEE op on exact
    integer inputs, emitted UNROUNDED (bit-identical cross-engine; a
    round() at a half boundary would not be).

    Distinct from source_fuzzy_pairs (label-string similarity of source
    NAMES) and normalized_dedup_groups (corpus-level dup accounting):
    this is content overlap between source pairs."""
    d = load(spark, sf_dir, "documents")
    # project the token array FIRST: element_at over an inline split()
    # re-tokenizes the row per lambda call (no CSE inside higher-order
    # functions — the O(len²) trap llm4.py:62 documents); through a
    # materialized column the split runs once per row (2.5x measured)
    toks = d.select("source", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    t = F.col("t")
    grams = toks.select(
        "source",
        F.explode(
            F.when(
                F.size(t) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 3),
                    lambda i: F.concat_ws(
                        " ", F.element_at(t, i + 1), F.element_at(t, i + 2),
                        F.element_at(t, i + 3)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("g"),
    )
    sh = grams.select(
        "source",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("h"),
    ).distinct()
    from pyspark.sql import Window

    rk = sh.withColumn(
        "r", F.row_number().over(Window.partitionBy("source").orderBy("h"))
    ).filter(F.col("r") <= 128)
    # materialize the sketch table ONCE (#sources x 128 ints — tiny):
    # the pair stage consumes it from BOTH sides of a self-join, and
    # without a barrier each side would recompute the full shingle
    # scan + distinct + rank pipeline (together with the token
    # projection above: 7.2 s -> 1.6 s in the sf0.1 full-bench run)
    sk = (
        rk.groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sig"))
        .localCheckpoint()
    )
    a = sk.select(F.col("source").alias("src_a"), F.col("sig").alias("sa"))
    b = sk.select(F.col("source").alias("src_b"), F.col("sig").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    merged = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, 128)
    shared = F.size(
        F.filter(
            merged,
            lambda x: F.array_contains("sa", x) & F.array_contains("sb", x),
        )
    ).cast("long")
    return (
        pairs.select(
            "src_a",
            "src_b",
            F.size(merged).cast("long").alias("k_used"),
            shared.alias("n_shared"),
            (shared.cast("double") / F.size(merged)).alias("jaccard_est"),
        )
        .orderBy("src_a", "src_b")
    )


_TRGM_PATTERNS = (
    "merge batch",
    "window spark",
    "key scan query",
    "table table key",
    "quantum flux",
)
_TRGM_SQL = "('" + "'), ('".join(_TRGM_PATTERNS) + "')"


@query(
    "trigram_index_search",
    oracle=f"""
WITH pats(pattern) AS (VALUES {_TRGM_SQL}),
postings AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, length(text) - 1),
                  i -> substr(text, i, 3))) AS g
    FROM documents WHERE length(text) >= 3)),
ptr AS (
  SELECT DISTINCT pattern, g FROM (
    SELECT pattern,
           unnest(list_transform(range(1, length(pattern) - 1),
                  i -> substr(pattern, i, 3))) AS g
    FROM pats)),
pn AS (SELECT pattern, count(*) AS n_g FROM ptr GROUP BY 1),
cand AS (
  SELECT t.pattern, p.doc_id
  FROM ptr t JOIN postings p USING (g)
  GROUP BY t.pattern, p.doc_id
  HAVING count(*) = (SELECT n_g FROM pn WHERE pn.pattern = t.pattern)),
ver AS (
  SELECT c.pattern, c.doc_id,
         CASE WHEN contains(d.text, c.pattern) THEN 1 ELSE 0 END AS hit
  FROM cand c JOIN documents d USING (doc_id))
SELECT pats.pattern,
       CAST(coalesce(count(ver.doc_id), 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(ver.hit), 0) AS BIGINT) AS n_matched
FROM pats LEFT JOIN ver ON ver.pattern = pats.pattern
GROUP BY 1 ORDER BY 1
""",
)
def trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated substring search (the pg_trgm plan shape): an
    inverted character-trigram index over the corpus, candidate docs =
    those containing EVERY trigram of the pattern (posting-list
    intersection via join + group-having), then exact contains()
    verification on candidates only. Reports candidates vs verified
    matches per pattern — the index's false-positive factor, which is
    what decides whether the index pays for itself. One pattern
    ('quantum flux') matches nothing, proving absent patterns survive
    the left join with zeros rather than vanishing.

    Scale: THE point of the shape — the scan cost moves to index-build
    time (one explode + distinct, incremental under append); each
    search touches only the postings of the pattern's trigrams (a
    semi-join-sized fraction of the corpus), and exact verification
    runs on candidates, not the table. At 100 TB the postings table is
    hash-partitioned by trigram so each lookup prunes to a handful of
    partitions; hot trigrams (stopword-like) are exactly the ones a
    planner drops from the intersection first — here all pattern
    trigrams are used, the conservative worst case.

    Determinism: pure set counting, no floats anywhere."""
    d = load(spark, sf_dir, "documents")
    # NO corpus-wide distinct: the broadcast join against the pattern
    # trigrams prunes the explode output map-side (only ~40 pattern
    # trigrams survive of the whole trigram space), so the only shuffle
    # is the already-pruned candidate agg — count(DISTINCT g) inside
    # the group supplies the dedup the postings skip. The repartition
    # spreads the 300x per-doc fan-out across cores when the input
    # arrives as few splits (sf0.1 documents is ONE parquet file — the
    # explode ran single-threaded without it, 3.7 s -> 1.7 s measured);
    # at real scale input splits already provide the parallelism and
    # AQE elides the tiny extra shuffle.
    postings = d.repartition(32).filter(F.length("text") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 2),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    pats = spark.createDataFrame(
        [(p,) for p in _TRGM_PATTERNS], "pattern string"
    )
    ptr = pats.select(
        "pattern",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("pattern") - 2),
                lambda i: F.col("pattern").substr(i, F.lit(3)),
            )
        ).alias("g"),
    ).distinct()
    pn = ptr.groupBy("pattern").agg(F.count(F.lit(1)).alias("n_g"))
    cand = (
        postings.join(F.broadcast(ptr), on="g")
        .groupBy("pattern", "doc_id")
        .agg(F.countDistinct("g").alias("n_hit"))
        .join(F.broadcast(pn), on="pattern")
        .filter(F.col("n_hit") == F.col("n_g"))
        .select("pattern", "doc_id")
    )
    ver = cand.join(d.select("doc_id", "text"), on="doc_id").select(
        "pattern",
        "doc_id",
        (F.instr("text", F.col("pattern")) > 0).cast("int").alias("hit"),
    )
    return (
        pats.join(ver, on="pattern", how="left")
        .groupBy("pattern")
        .agg(
            F.coalesce(F.count("doc_id"), F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_matched"),
        )
        .orderBy("pattern")
    )


@query(
    "dsir_effective_sample_size",
    oracle=_DSIR_CTE
    + """,
logw AS (
  SELECT f.doc_id, CAST(sum(f.c * lr.l) AS BIGINT) AS lw
  FROM feat f JOIN lr USING (b)
  WHERE f.lang <> 'en'
  GROUP BY f.doc_id),
mx AS (SELECT max(lw) AS m FROM logw),
wq AS (
  SELECT doc_id,
         CAST(round(exp(CAST(lw - m AS DOUBLE) / 1e9) * 1e9) AS BIGINT) AS w
  FROM logw, mx),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(w AS HUGEINT)) AS DOUBLE) AS sw,
         CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE) AS sw2
  FROM wq)
SELECT n AS n_docs,
       (sw * sw) / sw2 AS ess,
       ((sw * sw) / sw2) / CAST(n AS DOUBLE) AS ess_ratio
FROM s
""",
)
def dsir_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR importance weights, ESS =
    (Σw)²/Σw² (Kong 1992) — THE degeneracy diagnostic for importance
    resampling: ess_ratio near 1 means the reweighting is gentle, near
    1/n means a handful of documents dominate and the resampled corpus
    (`dsir_gumbel_resample`) is effectively tiny. This is the audit a
    data-selection pipeline runs BEFORE trusting the resample budget.

    Determinism: per-doc log-weights are the exact BIGINT nano sums of
    `dsir_importance_scores`; weights are self-normalized by the MAX
    log-weight (a 1-row broadcast) so exp() stays in (0, 1], and each
    weight — the only transcendental — is rounded ONCE into integer
    nanos (weights below 0.5e-9 of the max quantize to 0: an explicit,
    documented floor far below any ESS-relevant mass). The two power
    sums accumulate exactly (DECIMAL(38,0)); the closed form is two
    fixed-order divisions.

    Scale: inherits the DSIR shape — fixed 256-bucket model broadcast,
    one per-doc aggregate; the ESS itself is a 1-row reduction."""
    feat, lr = _dsir_feat_lr(spark, sf_dir)
    logw = (
        feat.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), on="b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("l")).cast("long").alias("lw"))
    )
    mx = logw.agg(F.max("lw").alias("m"))
    wq = logw.join(F.broadcast(mx)).select(
        "doc_id",
        F.round(
            F.exp((F.col("lw") - F.col("m")).cast("double") / F.lit(1e9)) * F.lit(1e9)
        )
        .cast("long")
        .alias("w"),
    )
    big = "decimal(38,0)"
    s = wq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("w").cast(big)).cast("double").alias("sw"),
        F.sum(F.col("w").cast(big) * F.col("w")).cast("double").alias("sw2"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        ((F.col("sw") * F.col("sw")) / F.col("sw2")).alias("ess"),
        (
            ((F.col("sw") * F.col("sw")) / F.col("sw2")) / F.col("n").cast("double")
        ).alias("ess_ratio"),
    )
