"""Training-data curation operators, wave 4: repetition profiling,
PII scanning, and train/eval n-gram contamination — the quality/safety
gates a corpus pipeline runs between dedup and sampling.

All hot-path logic is JVM Column expressions (split / higher-order array
functions / regexp_extract_all) — no Python UDFs anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.text import EMAIL, IPV4, PHONE
from ecommerce_lakehouse_spark.queries import query
from ecommerce_lakehouse_spark.tables import load


@query(
    "repetition_profile",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
b AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1])) AS bg
  FROM t WHERE len(w) >= 2
)
SELECT doc_id,
       len(w) AS n_words,
       len(bg) AS n_bigrams,
       len(list_distinct(bg)) AS n_distinct_bigrams,
       (len(bg) - len(list_distinct(bg))) / CAST(len(bg) AS DOUBLE)
         AS dup_bigram_ratio,
       list_max(list_transform(list_distinct(w),
                               u -> len(list_filter(w, x -> x = u))))
         / CAST(len(w) AS DOUBLE) AS top_word_share
FROM b
""",
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-bigram
    ratio (what fraction of consecutive word pairs are repeats) and
    top-word share (mode frequency / doc length). High values flag
    boilerplate/spam for corpus filtering.

    Scale: zero shuffles — every metric is computed inside the row with
    higher-order array functions (sequence→transform for bigrams,
    distinct-filter-count for the mode), so this runs at scan speed and
    parallelizes per file split. The mode loop is O(distinct × len) per
    row — bounded by document vocabulary, never corpus size."""
    d = load(spark, sf_dir, "documents")
    # Materialization barrier (the winnow_fingerprints lesson,
    # queries/llm3.py:454-461): Catalyst collapses projections into HOF
    # lambdas and never CSE-dedupes them, so without the barrier every
    # element_at(w, i) re-runs split() — O(len²) tokenizations per row.
    toks = (
        d.select("doc_id", F.expr(r"split(trim(text), '\\s+')").alias("w"))
        .filter(F.size("w") >= 2)
        .localCheckpoint()
    )
    bg = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    top_cnt = F.expr(
        "array_max(transform(array_distinct(w), u -> size(filter(w, x -> x = u))))"
    )
    return toks.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(bg).alias("n_bigrams"),
        F.size(F.array_distinct(bg)).alias("n_distinct_bigrams"),
        (
            (F.size(bg) - F.size(F.array_distinct(bg))) / F.size(bg).cast("double")
        ).alias("dup_bigram_ratio"),
        (top_cnt / F.size("w").cast("double")).alias("top_word_share"),
    )


@query(
    "pii_scan",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{EMAIL}')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(len(regexp_extract_all(text, '{EMAIL}'))) AS BIGINT) AS total_emails,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{PHONE}')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(sum(len(regexp_extract_all(text, '{PHONE}'))) AS BIGINT) AS total_phones,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{IPV4}')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ipv4,
       CAST(sum(len(regexp_extract_all(text, '{IPV4}'))) AS BIGINT) AS total_ipv4
FROM documents
GROUP BY 1
""",
)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan per source feed: email / phone / IPv4 match
    counts (docs-affected + total occurrences) — the triage report that
    decides which sources need scrubbing before training. Patterns are
    lookaround-free so Java regex and RE2 agree match-for-match.

    Scale: regexp_extract_all is JVM-side and the aggregation is an
    ordinary partial-agg groupBy on the low-cardinality source key — one
    slim shuffle of per-source partial counts."""
    d = load(spark, sf_dir, "documents")

    def hits(pat: str):
        return F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))

    def agg_pair(pat: str, label: str):
        h = hits(pat)
        return [
            F.sum(F.when(h > 0, 1).otherwise(0)).alias(f"docs_with_{label}"),
            F.sum(h.cast("long")).alias(f"total_{label}s" if label != "ipv4" else "total_ipv4"),
        ]

    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        *agg_pair(EMAIL, "email"),
        *agg_pair(PHONE, "phone"),
        *agg_pair(IPV4, "ipv4"),
    )


@query(
    "ngram_contamination",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 3),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) AS gs
  FROM t WHERE len(w) >= 5
),
ex AS (SELECT doc_id, unnest(gs) AS gram FROM g),
ev AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 100 = 0),
hit AS (
  SELECT ex.doc_id, count(*) AS n_contaminated
  FROM ex JOIN ev USING (gram)
  WHERE ex.doc_id % 100 <> 0
  GROUP BY 1
)
SELECT g.doc_id,
       len(g.gs) AS n_grams,
       coalesce(hit.n_contaminated, 0) AS n_contaminated,
       coalesce(hit.n_contaminated, 0) / CAST(len(g.gs) AS DOUBLE) AS containment
FROM g LEFT JOIN hit ON g.doc_id = hit.doc_id
WHERE g.doc_id % 100 <> 0
""",
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: 5-gram containment of every train
    document against the eval set's n-gram inventory (eval = doc_id %
    100 == 0, a deterministic holdout stand-in). This is the standard
    decontamination gate run before training so eval benchmarks aren't
    memorized.

    Scale: the eval inventory is DISTINCT n-grams of the (small) eval
    set — broadcast to every executor, so the train side never shuffles
    its exploded grams: explode → broadcast-semi-join → per-doc count is
    map-side until the final per-doc aggregation on doc_id. Production
    swaps the raw gram string for xxhash64(gram) to slim the broadcast;
    kept as text here so the DuckDB oracle matches exactly."""
    d = load(spark, sf_dir, "documents")
    # Two materialization barriers (see queries/llm3.py:454-461): tokenize
    # once, build the gram arrays once — without them projection collapse
    # re-inlines split() into all five element_at() calls per gram
    # (measured 42 s at sf0.1; with barriers ~2 s), and the gram arrays
    # would recompute for each of the three consumers below.
    toks = (
        d.select("doc_id", F.expr(r"split(trim(text), '\\s+')").alias("w"))
        .filter(F.size("w") >= 5)
        .localCheckpoint()
    )
    grams = F.expr(
        "array_distinct(transform(sequence(1, size(w) - 4), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), "
        "element_at(w, i + 2), element_at(w, i + 3), element_at(w, i + 4))))"
    )
    base = toks.select("doc_id", grams.alias("gs")).localCheckpoint()
    ex = base.select("doc_id", F.explode("gs").alias("gram"))
    ev = ex.filter(F.col("doc_id") % 100 == 0).select("gram").distinct()
    train = base.filter(F.col("doc_id") % 100 != 0)
    hit = (
        ex.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(ev), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        train.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.size("gs").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)) / F.size("gs").cast("double")
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# composition queries: ANN quality eval + curation funnel
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries import ORACLES as _ORACLES  # noqa: E402
from ecommerce_lakehouse_spark.queries.llm import (  # noqa: E402
    embedding_knn_bruteforce as _knn,
)
from ecommerce_lakehouse_spark.queries.llm2 import (  # noqa: E402
    embedding_lsh_ann as _lsh,
)


@query(
    "ann_recall_eval",
    oracle=f"""
WITH knn AS ({_ORACLES['embedding_knn_bruteforce']}),
ann AS ({_ORACLES['embedding_lsh_ann']}),
hits AS (
  SELECT ann.query_id,
         CASE WHEN knn.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ann LEFT JOIN knn
    ON ann.query_id = knn.query_id AND ann.neighbor_id = knn.neighbor_id
)
SELECT count(*) AS n_queries,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_5
FROM hits
""",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: does the LSH index's reported neighbor
    appear in the exact brute-force top-5? Composes the two registered
    operators and reports recall@5 — the metric that tunes plane count /
    multi-probe before anyone trusts the index at scale. (The oracle
    composes the same two oracle SQLs as CTEs, so this also cross-checks
    the operators against each other.)

    Scale: both inputs are per-query top-k results (rows = queries × k),
    so the join and aggregate are control-plane-sized regardless of
    corpus size."""
    knn = _knn(spark, sf_dir).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    ann = _lsh(spark, sf_dir).select("query_id", "neighbor_id")
    joined = ann.join(knn, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.count("*").alias("n_queries"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
        ).alias("recall_at_5"),
    )


@query(
    "corpus_curation_funnel",
    oracle="""
WITH t AS (
  SELECT lang, text,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), scored AS (
  SELECT lang, text,
         least(len(toks) / 100.0, 1.0)
           * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) AS qscore
  FROM t
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN qscore >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_pass,
       count(DISTINCT CASE WHEN qscore >= 0.2 THEN md5(text) END)
         AS n_unique_pass
FROM scored
GROUP BY 1
""",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel per language: raw docs → quality gate
    (the text_quality_stats score) → exact dedup (md5 content hash),
    reported as stage counts — the shrinkage report every corpus build
    publishes.

    Scale: one scan; the quality score is row-local JVM array math, the
    dedup stage counts DISTINCT fixed-width hashes (never raw text) under
    a conditional, and the group key (lang) is low-cardinality — one slim
    shuffle of partial aggregates."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    qscore = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0)) * (
        F.size(F.array_distinct(toks)) / F.size(toks).cast("double")
    )
    scored = d.select("lang", "text", qscore.alias("qscore"))
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("qscore") >= 0.2, 1).otherwise(0)).alias("n_quality_pass"),
        F.countDistinct(
            F.when(F.col("qscore") >= 0.2, F.md5("text"))
        ).alias("n_unique_pass"),
    )


from ecommerce_lakehouse_spark.queries.llm2 import (  # noqa: E402
    lang_id_heuristic as _lang_id,
)


@query(
    "lang_id_confusion",
    oracle=f"""
WITH pred AS ({_ORACLES['lang_id_heuristic']})
SELECT lang AS labeled_lang, predicted_lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN lang = predicted_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM pred
GROUP BY 1, 2
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    language-ID heuristic against the corpus's lang labels — the accuracy
    report any curation pipeline publishes before trusting a filter.
    (Composes the registered lang_id operator; the oracle composes its
    oracle SQL, cross-checking both.)

    Scale: the classifier runs in the scan stage (JVM array expressions);
    the matrix is a low-cardinality (label × prediction) groupBy — one
    slim shuffle of partial counts."""
    pred = _lang_id(spark, sf_dir)
    return pred.groupBy(
        F.col("lang").alias("labeled_lang"), "predicted_lang"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("lang") == F.col("predicted_lang"), 1).otherwise(0)
        ).alias("n_correct"),
    )


_LM_ALPHA = 0.5  # add-alpha smoothing
_LM_TRAIN_PCT = 80  # train split: md5 hash bucket < 80 (same split as train_val_test_split)
_HB = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


@query(
    "bigram_lm_score",
    oracle=rf"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), tr AS (
  SELECT * FROM d WHERE {_HB} < {_LM_TRAIN_PCT}
), tru AS (
  SELECT unnest(w) AS w1 FROM tr
), uni AS (
  SELECT w1, count(*) AS c1 FROM tru GROUP BY 1
), vv AS (
  SELECT count(DISTINCT w1) AS v FROM tru
), trb1 AS (
  SELECT w, unnest(range(1, len(w))) AS pos FROM tr WHERE len(w) >= 2
), bi AS (
  SELECT w[pos] AS w1, w[pos + 1] AS w2, count(*) AS c12 FROM trb1 GROUP BY 1, 2
), db1 AS (
  SELECT doc_id, w, unnest(range(1, len(w))) AS pos FROM d WHERE len(w) >= 2
), db2 AS (
  SELECT doc_id, pos, w[pos] AS w1, w[pos + 1] AS w2 FROM db1
), scored AS (
  SELECT db2.doc_id, db2.pos, bi.c12,
         log2((coalesce(bi.c12, 0) + {_LM_ALPHA})
              / (coalesce(uni.c1, 0) + {_LM_ALPHA} * vv.v)) AS logp
  FROM db2
  LEFT JOIN bi ON db2.w1 = bi.w1 AND db2.w2 = bi.w2
  LEFT JOIN uni ON db2.w1 = uni.w1
  CROSS JOIN vv
), agg AS (
  SELECT doc_id,
         count(*) AS n_bigrams,
         CAST(sum(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
         list_aggregate(
             list_transform(list_sort(list(struct_pack(pos := pos, lp := logp))),
                            s -> s.lp), 'sum') AS slog
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_unseen,
       CAST(n_unseen AS DOUBLE) / n_bigrams AS unseen_rate,
       round(slog / n_bigrams, 5) AS avg_log2_prob
FROM agg
""",
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet-style perplexity gate):
    train an add-α bigram language model on the corpus's TRAIN hash
    split (same deterministic bucket rule as train_val_test_split — the
    model never sees held-out docs), then score every document by its
    average log2 bigram probability, plus the integer-exact unseen-
    bigram rate. Low avg probability / high unseen rate flags gibberish,
    boilerplate, and out-of-domain text for filtering.

    Determinism across engines: each document's log-probs are summed in
    POSITION order (collect struct(pos, logp), sort, fold) — never in
    shuffle arrival order — so the float sum is reproducible; the final
    average is rounded once at the end.

    Scale: model training is two map-side-partial groupBys (unigram and
    bigram counts, fixed-width keys); V is a 1-row broadcast; scoring is
    one join per n-gram order on the count tables — the standard
    distributed KenLM-lite shape. Nothing is per-row Python."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(r"split(trim(text), '\\s+')").alias("w")
    ).localCheckpoint()  # barrier: w referenced by position below (HOF-CSE)

    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(100),
    )
    tr = d.filter(bucket < _LM_TRAIN_PCT)
    tru = tr.select(F.explode("w").alias("w1"))
    uni = tru.groupBy("w1").agg(F.count("*").alias("c1"))
    vv = tru.agg(F.countDistinct("w1").alias("v"))

    def bigrams(df):
        return (
            df.filter(F.size("w") >= 2)
            .select(
                *[c for c in df.columns if c != "w"],
                F.posexplode(
                    F.expr(
                        "transform(sequence(1, size(w) - 1),"
                        " i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"
                    )
                ).alias("pos0", "bg"),
            )
            .select(*[c for c in df.columns if c != "w"],
                    (F.col("pos0") + 1).alias("pos"), "bg.w1", "bg.w2")
        )

    bi = bigrams(tr.select("w")).groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    db = bigrams(d)
    scored = (
        db.join(bi, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .crossJoin(F.broadcast(vv))
        .select(
            "doc_id",
            "pos",
            "c12",
            F.log2(
                (F.coalesce("c12", F.lit(0)) + F.lit(_LM_ALPHA))
                / (F.coalesce("c1", F.lit(0)) + F.lit(_LM_ALPHA) * F.col("v"))
            ).alias("logp"),
        )
    )
    slog = F.expr(
        "aggregate(sort_array(collect_list(struct(pos, logp))),"
        " cast(0.0 as double), (acc, x) -> acc + x.logp)"
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("c12").isNull(), 1).otherwise(0)).cast("bigint").alias("n_unseen"),
        slog.alias("__slog"),
    ).select(
        "doc_id",
        "n_bigrams",
        "n_unseen",
        (F.col("n_unseen").cast("double") / F.col("n_bigrams")).alias("unseen_rate"),
        F.round(F.col("__slog") / F.col("n_bigrams"), 5).alias("avg_log2_prob"),
    )


@query(
    "shingle_novelty_profile",
    oracle=r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 6),
                               i -> array_to_string(list_slice(toks, i, i + 7), ' ')))
           AS shingle
  FROM w WHERE len(toks) >= 8),
ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
fo AS (SELECT shingle, min(doc_id) AS first_doc FROM ds GROUP BY 1),
p AS (
  SELECT ds.doc_id, count(*) AS n_shingles,
         count(*) FILTER (WHERE fo.first_doc = ds.doc_id) AS n_novel
  FROM ds JOIN fo USING (shingle) GROUP BY 1)
SELECT doc_id, n_shingles, n_novel,
       CAST(n_novel AS DOUBLE) / n_shingles AS novelty_rate
FROM p
""",
)
def shingle_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty scoring (a standard curation signal next to
    the dedup family): the fraction of a doc's distinct 8-gram word
    shingles whose FIRST occurrence in the corpus (min doc_id = ingest
    order) is this doc. Documents that are mostly re-statements of
    earlier content score near 0; fresh content scores near 1 — the
    contribution-weighted view exact/near dedup doesn't give (a doc can
    be 40%% boilerplate without being anyone's near-dup).

    Scale: the shingle explode collapses immediately into a map-side
    distinct + a (shingle -> min doc) aggregate; the join back is
    shingle-keyed with ONE row on the aggregate side per shingle, so a
    hot boilerplate shingle joins many docs against one row — no pair
    expansion anywhere (contrast with naive all-pairs overlap). The
    final divide is one exact int/int IEEE op, bit-identical
    cross-engine. Spark's sequence(1, n) includes n and DuckDB's
    range(1, n) excludes it — bounds in the two texts differ by one on
    purpose."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= 8)
    sh = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 7),"
                " i -> array_join(slice(toks, i, 8), ' '))"
            )
        ).alias("shingle"),
    )
    ds = sh.distinct()
    fo = ds.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        ds.join(fo, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty_rate"
            ),
        )
    )


@query(
    "concat_packing_plan",
    oracle=r"""
WITH t AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
       CAST(cum - n_tokens
            - CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) * 2048
            AS BIGINT) AS pack_offset
FROM c
""",
)
def concat_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan for pretraining batches (GPT-style
    concatenation packing): per source, documents are concatenated in
    doc_id order and chunked into fixed 2048-token windows; each doc
    gets the window id (``pack_id``) and offset where it starts — the
    exact metadata a dataloader needs to materialize packed sequences
    (docs may straddle windows; that's the concat-packing contract, no
    padding waste). Deterministic across engines/retries: ingest order,
    integer arithmetic, no sampling.

    Scale: ONE window pass partitioned by source (the natural packing
    stream; a skewed source bounds a partition at that source's doc
    count — repartition the stream key upstream if a single source is
    corpus-scale). Everything else is map-side token counting."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.col("cum") - F.col("n_tokens")
    pack = F.floor(start / F.lit(2048.0)).cast("bigint")
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            pack.alias("pack_id"),
            (start - pack * F.lit(2048)).cast("bigint").alias("pack_offset"),
        )
    )


@query(
    "sq8_recall_eval",
    oracle=f"""
WITH knn AS ({_ORACLES['embedding_knn_bruteforce']}),
dims AS (
  SELECT vec_id, u.i, CAST(u.x AS DOUBLE) AS x
  FROM embeddings,
       unnest(list_transform(range(1, len(embedding) + 1),
              i -> {{'i': i, 'x': embedding[i]}})) AS t(u)),
stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
dqd AS (
  SELECT d.vec_id, d.i,
         s.mn + (CASE WHEN s.mx > s.mn
                      THEN least(255, CAST(floor((d.x - s.mn) / (s.mx - s.mn)
                                                 * 255) AS BIGINT))
                      ELSE 0 END) * (s.mx - s.mn) / 255 AS dq
  FROM dims d JOIN stats s USING (i)),
dq AS (SELECT vec_id, list(dq ORDER BY i) AS emb FROM dqd GROUP BY 1),
dqn AS (
  SELECT vec_id, emb,
         sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm
  FROM dq),
qv AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
              'sum')) AS nrm
  FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_aggregate(list_transform(range(1, len(qv.emb) + 1),
                        i -> qv.emb[i] * c.emb[i]), 'sum')
           / (qv.nrm * c.nrm) AS sim
  FROM qv, dqn c WHERE c.vec_id != qv.vec_id),
sq8 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM pairs) WHERE rn <= 5),
hits AS (
  SELECT s.query_id,
         CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sq8 s LEFT JOIN knn k
    ON s.query_id = k.query_id AND s.neighbor_id = k.neighbor_id)
SELECT count(*) AS n_pairs,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_5
FROM hits
""",
)
def sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does int8 scalar quantization hurt retrieval? Asymmetric-distance
    evaluation (FAISS ADC): queries stay full-precision, the candidate
    side is SQ8 dequantized (the same per-dim affine codes
    embedding_quantize_int8 audits), brute-force cosine top-5 on the
    quantized index is compared against the exact full-precision top-5
    and reported as recall@5 — the accept/reject number for the 4x
    memory cut BEFORE the index ships. Composes three registered
    operators; the oracle composes their oracle SQLs as CTEs, so the
    engines cross-check each other end to end.

    Cross-engine determinism: codes use floor on bit-identical IEEE
    inputs; the dequantized array reassembles in dimension order (DuckDB
    list(... ORDER BY i) == Spark sort_array(collect_list(struct(i,
    dq)))); dot products are positional in-row folds. Ranking ties break
    by neighbor_id, so no rounding is needed anywhere.

    Scale: per-dim stats are a fixed 64-row broadcast; the dequantized
    table is one map-side reassembly; the top-k is the knn query's
    broadcast-queries shape (queries x corpus streamed, per-query window
    top-5); the recall join is rows = queries x k."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select("vec_id", F.posexplode("embedding").alias("i0", "xf")).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    stats = dims.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.lit(255).cast("long"),
            F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255),
        ),
    ).otherwise(F.lit(0).cast("long"))
    dqd = dims.join(F.broadcast(stats), on="i").select(
        "vec_id",
        "i",
        (F.col("mn") + code * (F.col("mx") - F.col("mn")) / 255).alias("dq"),
    )
    sq = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    dqn = (
        dqd.groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "dq"))), lambda s: s["dq"]
            ).alias("emb")
        )
        .withColumn("nrm", F.sqrt(sq(F.col("emb"))))
    )
    qv = (
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("q_emb"))
        .filter(F.col("vec_id") < 10)
        .withColumn("q_nrm", F.sqrt(sq(F.col("q_emb"))))
        .select(F.col("vec_id").alias("query_id"), "q_emb", "q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    pairs = dqn.join(F.broadcast(qv), F.col("vec_id") != F.col("query_id")).withColumn(
        "sim", dot / (F.col("q_nrm") * F.col("nrm"))
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    sq8 = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    knn = _knn(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = sq8.join(knn, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
        ).alias("recall_at_5"),
    )
