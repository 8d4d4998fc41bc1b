"""Corpus & graph mining wave 3 (round 6 continuation): the remaining
everyday text-mining, graph-structure, and embedding-index primitives.

- ``pmi_collocations``: pointwise-mutual-information bigram collocation
  mining — the statistical phrase detector (Church & Hanks 1990) every
  tokenizer/vocab pipeline runs before merging multi-word units;
- ``readability_profile``: per-language Flesch reading-ease from exact
  integer word/sentence/vowel-group counts — the doc-quality signal
  rule-based corpus gates (Gopher) omit;
- ``simhash_hamming_pairs``: completes the SimHash dedup family from
  signatures (llm2.simhash_signatures) to actual near-dup PAIRS via
  pigeonhole banding + exact Hamming verification;
- ``kcore_peeling_profile``: iterative k-core peeling (Seidman 1983,
  Batagelj-Zaveršnik shape) over the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets) —
  the density-hierarchy summary (per-round nodes/edges) that PageRank
  and components don't expose;
- ``ar2_yule_walker_forecast``: AR(2) fit by Yule-Walker moment
  equations over monthly revenue with a 6-month recursive forecast —
  the autoregressive member of the forecasting shelf (alongside Holt,
  exponential smoothing, Croston, Theil-Sen/OLS trend);
- ``random_projection_distortion``: Johnson-Lindenstrauss signed random
  projection 64->16 dims audited by the theorem's own claim — the
  distortion-ratio histogram (recall@k is noise-dominated on isotropic
  embeddings and deliberately rejected, see docstring);
- ``dbscan_customer_segments``: exact grid-accelerated DBSCAN over the
  integer customer behavior lattice — cell-level stencil counts,
  core/border/noise roles, one in-row min-label CC fold over the
  domain-bounded core-cell graph;
- ``markov_prediction_accuracy``: held-out argmax next-event accuracy
  of the transition matrix — model-vs-description for the Markov shelf;
- ``frequent_triple_itemsets``: Apriori level 3 — top-k part triples
  with the min-pair-support Apriori bound reported alongside;
- ``isotonic_calibration``: pool-adjacent-violators (PAVA) monotone
  regression calibrating classifier scores to empirical precision;
- ``binary_segmentation_changepoints``: recursive binary-segmentation
  change-point tree over the daily revenue series (SSE-gain splits);
- ``quantile_treatment_effects``: per-quantile treatment-effect deltas
  between matched cohorts (QTE ladder, not just the mean ATE);
- ``haar_wavelet_energy``: Haar wavelet decomposition of daily revenue
  with per-level detail-energy shares (timescale spectrum);
- ``event_path_trigrams``: top within-session event-type trigram paths
  (the order-3 extension of the Markov bigram transition matrix);
- ``vocab_chao1_estimate``: Chao1 unseen-vocabulary estimate with
  Good-Turing coverage from the exact token frequency-of-frequencies;
- ``hurst_rs_exponent``: rescaled-range (R/S) Hurst exponent of daily
  revenue — the long-memory scaling-law diagnostic.

Reference parity: none of these exist in the reference (its Python
surface is Glue ETL over business keys, src/processing/*.py); they
extend the engine's first-class training-data and analytics families.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.text import ALPHA_TOKS_D, ALPHA_TOKS_S, H32_S, WS_TOKS_S
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load


# ---------------------------------------------------------------------------
# PMI bigram collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@query(
    "pmi_collocations",
    oracle=f"""
WITH d AS (SELECT {ALPHA_TOKS_D} AS t FROM documents),
uni AS (
  SELECT u AS w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS u FROM d) GROUP BY 1),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(range(1, len(t)),
                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
        FROM d WHERE len(t) >= 2)
       , LATERAL (SELECT u.w1 AS w1, u.w2 AS w2) z
  GROUP BY 1, 2),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi),
scored AS (
  SELECT bi.w1, bi.w2, bi.c AS n_pair, u1.c AS n_w1, u2.c AS n_w2,
         (CAST(bi.c AS DOUBLE) * tot.n)
           / (CAST(u1.c AS DOUBLE) * u2.c) AS lift
  FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
  CROSS JOIN tot
  WHERE bi.c >= {_PMI_MIN_COUNT})
SELECT w1, w2, n_pair, n_w1, n_w2, lift,
       CAST(round(log2(lift) * 1e9) AS BIGINT) AS pmi_nanos
FROM scored ORDER BY lift DESC, w1, w2 LIMIT {_PMI_TOP}
""",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} bigram collocations by pointwise mutual information
    PMI(a,b) = log2(N·c(ab) / (c(a)·c(b))) with a min-count floor of
    {mc} (Church & Hanks 1990) — the statistical phrase detector that
    finds multi-word units ("new york", "machine learning") worth
    merging before vocabulary construction; the natural companion to
    the BPE trainer (which merges by raw frequency, not association
    strength) and token_frequencies on the text-analysis shelf.

    Cross-engine exactness: c(ab), c(a), c(b), N are exact BIGINTs; the
    ranking key is the lift ratio computed as ONE double
    multiply-each-side-then-divide (identical IEEE sequence in both
    engines), ties broken by the bigram itself; the only transcendental
    (log2 — whose last ULP differs between the engines' libm) is rounded
    ONCE into integer nanos (the adamic_adar_links discipline), with the
    exact lift reported alongside.

    Scale: two token-stream groupBys (bigram keys + unigram keys — both
    vocabulary-bounded outputs) and two broadcast-sized joins back to
    the bigram table; the top-{top} is TakeOrdered (per-partition heads,
    no global sort). Nothing is corpus² anywhere.""".format(
        top=_PMI_TOP, mc=_PMI_MIN_COUNT
    )
    d = load(spark, sf_dir, "documents").select(F.expr(ALPHA_TOKS_S).alias("t"))
    d = d.localCheckpoint(eager=False)  # unigram + bigram branches
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi = (
        d.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("g")
        )
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_COUNT)
    )
    tot = (
        d.filter(F.size("t") >= 2)
        .select((F.size("t") - 1).cast("long").alias("nb"))
        .agg(F.sum("nb").cast("long").alias("n"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    scored = (
        bi.join(F.broadcast(u1), on="w1")
        .join(F.broadcast(u2), on="w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (F.col("n_pair").cast("double") * F.col("n"))
                / (F.col("n_w1").cast("double") * F.col("n_w2"))
            ).alias("lift"),
        )
    )
    return (
        scored.orderBy(F.desc("lift"), "w1", "w2")
        .limit(_PMI_TOP)
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            "lift",
            F.round(F.log2("lift") * F.lit(1e9), 0)
            .cast("long")
            .alias("pmi_nanos"),
        )
    )


# ---------------------------------------------------------------------------
# Flesch readability profile
# ---------------------------------------------------------------------------


@query(
    "readability_profile",
    oracle=r"""
WITH d AS (
  SELECT lang,
         CAST(len(list_filter(string_split(regexp_replace(lower(text),
                '[^a-z]+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS w,
         CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                x -> trim(x) <> '')) AS BIGINT) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS y
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(s) AS BIGINT) AS n_sentences,
       CAST(sum(y) AS BIGINT) AS n_syllables,
       CAST(sum(w) AS DOUBLE) / sum(s) AS words_per_sentence,
       CAST(sum(y) AS DOUBLE) / sum(w) AS syllables_per_word,
       206.835 - 1.015 * (CAST(sum(w) AS DOUBLE) / sum(s))
               - 84.6 * (CAST(sum(y) AS DOUBLE) / sum(w))
         AS flesch_reading_ease
FROM d GROUP BY 1
""",
)
def readability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Flesch reading-ease profile: 206.835 − 1.015·(W/S) −
    84.6·(Y/W) where W = [a-z]+ word count (the corpus tokenizer's
    definition), S = non-empty [.!?]+-delimited sentence count, and Y =
    vowel-group count (the standard syllable surrogate — exact syllable
    counting needs a pronunciation lexicon; vowel runs are the
    deterministic, engine-portable stand-in). The corpus-quality signal
    rule gates (Gopher) omit: a corpus can pass length/stopword gates
    while drifting unreadably technical or degenerate simple.

    Exactness: all three counts are exact per-doc BIGINTs summed per
    language; the formula is applied ONCE to the aggregate ratios
    (never averaged per-doc — per-doc floats would reintroduce
    association order), each ratio one IEEE division both engines
    render identically.

    Scale: one narrow scan, three in-row regex counts, a |langs|-group
    aggregate. No shuffle beyond the fixed-width groupBy."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.expr(ALPHA_TOKS_S)).cast("long").alias("w"),
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x) != ""
            )
        )
        .cast("long")
        .alias("s"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long")
        .alias("y"),
    )
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_sentences"),
        F.sum("y").cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch_reading_ease"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (banding + Hamming verification)
# ---------------------------------------------------------------------------

_SH_MAXDIST = 3  # Hamming radius; 4 bands of 8 bits => pigeonhole-complete
_SH_BANDS = 4
_SH_CAP = 512  # stop-band skew cap (the MH_BUCKET_CAP policy)

# 32-bit simhash over whitespace tokens — MUST stay in lockstep with
# llm2.simhash_signatures (same tokens, same md5-derived bit votes)
_SH_SIG_D = """
canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
hs AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\\s+'),
             s -> ('0x' || substr(md5(s),1,8))::BIGINT) AS hashes
  FROM canon),
sig AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32), i ->
             CASE WHEN list_sum(list_transform(hashes,
                      h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
  FROM hs)
"""


@query(
    "simhash_hamming_pairs",
    confs=TINY_STAGE_CONFS,
    oracle=f"""
WITH {_SH_SIG_D},
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS bkey
  FROM sig, (SELECT unnest(range(0, {_SH_BANDS})) AS b)),
hot AS (
  SELECT b, bkey FROM bands GROUP BY 1, 2 HAVING count(*) > {_SH_CAP}),
cold AS (
  SELECT bands.* FROM bands ANTI JOIN hot
  ON bands.b = hot.b AND bands.bkey = hot.bkey),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM cold a JOIN cold b
    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming_dist
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SH_MAXDIST}
""",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS at Hamming distance <= {md} —
    completing the family from signatures (llm2.simhash_signatures
    computes the 32-bit per-bit-majority hash; this query finds the
    pairs) the way production SimHash dedup runs (Manku et al. 2007,
    the Google web-dedup paper): split each signature into {nb} 8-bit
    bands; by pigeonhole any pair within distance {md} agrees exactly
    on at least one band, so band-equality buckets are a COMPLETE
    candidate generator; verify candidates with the exact popcount of
    the XOR. Collapse-first (exact copies canonicalize by min doc_id
    before hashing) and the llm2 stop-band cap ({cap}) keep degenerate
    buckets from going quadratic — the same skew policy the MinHash
    pipeline ships.

    Exactness: the signature is pure integer bit arithmetic from md5
    token hashes (bit-identical to simhash_signatures); the verifier is
    an integer popcount. No floats exist in this query.

    Scale: banding is a 4x fan-out; candidates are bounded by
    sum-of-bucket² under the cap; verification is in-row. The pairs
    feed the same cluster/survivor machinery as minhash_lsh_pairs
    (pipelines/curation.py).""".format(
        md=_SH_MAXDIST, nb=_SH_BANDS, cap=_SH_CAP
    )
    d = load(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    sig = canon.select(
        "doc_id",
        F.expr(
            f"aggregate(transform({WS_TOKS_S}, s -> {H32_S.format(x='s')}),"
            " array_repeat(cast(0 as bigint), 32),"
            " (acc, h) -> zip_with(acc, sequence(0, 31),"
            "   (c, i) -> c + IF((shiftright(h, i) & 1) = 1, 1, -1)),"
            " acc -> aggregate(zip_with(acc, sequence(0, 31),"
            "   (c, i) -> IF(c > 0, shiftleft(cast(1 as bigint), i),"
            " cast(0 as bigint))), cast(0 as bigint), (a, x) -> a + x))"
        ).alias("simhash"),
    )
    sig = sig.localCheckpoint(eager=False)  # feeds band fan-out twice
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"sequence(0, {_SH_BANDS - 1})")).alias("b"),
    ).withColumn(
        "bkey", F.expr("(simhash >> (8 * b)) & 255").cast("long")
    )
    hot = (
        bands.groupBy("b", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > _SH_CAP)
        .select("b", "bkey")
    )
    cold = bands.join(hot, on=["b", "bkey"], how="left_anti")
    a = cold.select(
        "b", "bkey", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    bb = cold.select(
        "b", "bkey", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    cand = (
        a.join(bb, on=["b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming_dist", F.expr("bit_count(sig_a ^ sig_b)").cast("int")
        )
        .filter(F.col("hamming_dist") <= _SH_MAXDIST)
        .select("doc_a", "doc_b", "hamming_dist")
    )


# ---------------------------------------------------------------------------
# k-core peeling profile
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries.graph_ml import (  # noqa: E402
    _COPURCHASE_EDGES,
    _support_graph,
)

_KC_K = 3  # core order
_KC_ROUNDS = 12  # fixed peel budget; fixpoint needs 11 at sf0.01 (worst SF)


def _kc_rounds_sql() -> str:
    parts = ["n0 AS (SELECT DISTINCT z FROM adj)"]
    for r in range(_KC_ROUNDS + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT a.z, CAST(count(*) AS BIGINT) AS c
  FROM adj a JOIN n{r} x ON a.z = x.z JOIN n{r} y ON a.nbr = y.z
  GROUP BY 1)"""
        )
        if r < _KC_ROUNDS:
            parts.append(
                f"n{r + 1} AS (SELECT z FROM d{r} WHERE c >= {_KC_K})"
            )
    return ",\n".join(parts)


@query(
    "kcore_peeling_profile",
    oracle=f"""
WITH {_COPURCHASE_EDGES},
{_kc_rounds_sql()},
prof AS (
  {" UNION ALL ".join(
      f"SELECT {r} AS round,"
      f" (SELECT CAST(count(*) AS BIGINT) FROM n{r}) AS n_nodes,"
      f" (SELECT CAST(COALESCE(sum(c), 0) // 2 AS BIGINT) FROM d{r})"
      f" AS n_edges"
      for r in range(_KC_ROUNDS + 1)
  )})
SELECT round, n_nodes, n_edges,
       CAST(COALESCE(lag(n_nodes) OVER (ORDER BY round) - n_nodes, 0)
            AS BIGINT) AS n_removed
FROM prof
""",
)
def kcore_peeling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (Seidman 1983; the synchronous Batagelj-Zaveršnik
    shape) at k={k} over the relative-support co-purchase graph (threshold max(2, ceil(2n/150000)) baskets): repeatedly
    delete every part whose degree in the surviving subgraph is < {k},
    and report the PROFILE — per round, surviving nodes, induced edges,
    and nodes removed — rather than only the final core. The profile is
    the density-hierarchy summary PageRank and connected components
    don't expose (how fast the graph sheds its periphery; where the
    plateau is = the core), it stays informative when the core is empty
    (true at sf0.1 — the relative-support graph there has no 3-core, and the
    trailing zero rows SAY so), and the plateau makes convergence
    auditable: {r} fixed rounds both engines unroll identically, chosen
    above the measured fixpoint depth (11 rounds at sf0.01, the worst
    SF; tests assert the plateau at all three).

    Exactness: pure integer set/degree arithmetic — no floats exist.

    Scale: each round is degree-count + filter over a monotonically
    SHRINKING node set (two hash joins + one groupBy), the standard
    distributed peel; the adjacency is materialized once
    (graph_ml._support_graph barrier) and per-round node sets are
    checkpointed so round r's plan never replays rounds 1..r-1. At
    100 TB the support threshold bounds degree skew before any round
    runs (the triangle_copurchase lesson).""".format(
        k=_KC_K, r=_KC_ROUNDS
    )
    from pyspark.sql import Window

    # adj is two in-row projections of the checkpointed edge list — the
    # per-round probes re-derive it from that barrier (re-checkpointing
    # the union would double-materialize 2x the edges for nothing)
    _, adj = _support_graph(spark, sf_dir)
    return kcore_profile_frame(adj, k=_KC_K, rounds=_KC_ROUNDS)


def kcore_profile_frame(
    adj: DataFrame, k: int = _KC_K, rounds: int = _KC_ROUNDS
) -> DataFrame:
    """The peel itself over any symmetric (z, nbr) adjacency — factored
    out of the query so hypothesis can drive it with adversarial graphs
    (chains that peel one layer per round, stars, cliques) and assert
    the in-band convergence signal: a run whose round budget reached
    the fixpoint ends with n_removed = 0; a truncated run's final row
    shows n_removed > 0 — never a silently-wrong "core".

    IN-ROW peel over a SUPPORT-BOUNDED graph (r09 opt): the
    relative-support cut bounds the surviving graph independent of
    corpus size (E <= C(avg_width, 2) * 150000/2 — the edge-weight
    budget divided by the threshold, which scales with n_baskets), so
    the graph is control-plane-sized BY CONSTRUCTION and distributing
    the 13 peel rounds was pure scheduler overhead: the former
    round-per-job form (per round: eager localCheckpoint + 2 aggregates
    + a broadcast-join degree subtract) cost ~0.5 s/round of fixed cost
    at sf0.1 against a ~3.6k-edge graph. Here the DENSE adjacency index
    is built distributedly (posexplode index + two hash joins + one
    groupBy — the dbscan inrow_min_label_cc idiom, O(E)), then all
    rounds run as ONE in-row fold, O(rounds * (V + E)) inside a single
    task, stats accumulated per round in the same fold. Semantics are
    the same incremental Batagelj-Zaveršnik bookkeeping: deg(z) always
    equals z's degree in the subgraph induced by current survivors
    (an edge (z, w) is subtracted exactly when w is removed; removed
    slots go NULL), and each round's stats are taken BEFORE its
    removal, exactly like the round-per-job form."""
    from ecommerce_lakehouse_spark.operators.graph import dense_graph_frame

    # shared dense index (r10): degree = size of each neighbor list, so
    # the generic (nodes, adjx) frame carries everything the peel needs.
    # nullif forces containsNull=true on d0's element type: the fold
    # marks removed nodes by writing NULL slots, and with a non-nullable
    # count the analyzer constant-folds the fold's IS (NOT) NULL guards
    # away (a degree is never -1, so the values are unchanged)
    one = dense_graph_frame(adj).select(
        F.expr(
            "transform(adjx, ns -> nullif(CAST(size(ns) AS BIGINT),"
            " CAST(-1 AS BIGINT)))"
        ).alias("d0"),
        F.col("adjx").alias("adj_idx"),
    )
    folded = one.select(
        F.expr(
            f"""
aggregate(sequence(0, {rounds}),
  struct(d0 AS d,
         CAST(array() AS array<struct<n_nodes: BIGINT, n_edges: BIGINT>>) AS rows),
  (st, r) -> struct(
    zip_with(st.d, adj_idx, (x, nbrs) ->
      CASE WHEN x IS NULL OR x < {k} THEN CAST(NULL AS BIGINT)
           ELSE x - size(filter(nbrs, j ->
                  element_at(st.d, j) IS NOT NULL
                  AND element_at(st.d, j) < {k}))
      END) AS d,
    array_append(st.rows, struct(
      CAST(size(filter(st.d, x -> x IS NOT NULL)) AS BIGINT) AS n_nodes,
      CAST(COALESCE(aggregate(filter(st.d, x -> x IS NOT NULL),
                              CAST(0 AS BIGINT), (a, x) -> a + x), 0) DIV 2
           AS BIGINT) AS n_edges)) AS rows)).rows
""".strip()
        ).alias("rows")
    )
    return folded.select(
        F.posexplode("rows").alias("round", "s"), F.col("rows").alias("all")
    ).select(
        F.col("round").cast("int").alias("round"),
        F.col("s.n_nodes").alias("n_nodes"),
        F.col("s.n_edges").alias("n_edges"),
        F.when(F.col("round") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.element_at("all", F.col("round"))["n_nodes"] - F.col("s.n_nodes")
        )
        .cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# AR(2) Yule-Walker forecast
# ---------------------------------------------------------------------------

_AR_H = 6  # forecast horizon (months)


@query(
    "ar2_yule_walker_forecast",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({{'month': month, 'rev': revenue}})),
                        x -> x.rev) AS a,
         CAST(len(list({{'month': month}})) AS BIGINT) AS n
  FROM m),
mu AS (
  SELECT a, n,
         list_reduce(a, (x, y) -> x + y) / n AS mean_rev
  FROM arr),
gam AS (
  SELECT a, n, mean_rev,
         list_reduce(list_transform(range(1, CAST(n + 1 AS BIGINT)),
             i -> (a[i] - mean_rev) * (a[i] - mean_rev)),
             (x, y) -> x + y) AS g0,
         list_reduce(list_transform(range(1, CAST(n AS BIGINT)),
             i -> (a[i] - mean_rev) * (a[i + 1] - mean_rev)),
             (x, y) -> x + y) AS g1,
         list_reduce(list_transform(range(1, CAST(n - 1 AS BIGINT)),
             i -> (a[i] - mean_rev) * (a[i + 2] - mean_rev)),
             (x, y) -> x + y) AS g2
  FROM mu),
rr AS (SELECT a, n, mean_rev, g1 / g0 AS r1, g2 / g0 AS r2 FROM gam),
ph AS (
  SELECT a, n, mean_rev, r1, r2,
         r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
  FROM rr),
fc AS (
  SELECT n, mean_rev, r1, r2, phi1, phi2,
         list_reduce(
           list_prepend([a[-2], a[-1]],
             list_transform(range(1, {_AR_H + 1}), h -> [CAST(h AS DOUBLE)])),
           (acc, e) -> list_append(acc,
             mean_rev + phi1 * (acc[-1] - mean_rev)
                      + phi2 * (acc[-2] - mean_rev)))[3:{_AR_H + 2}] AS f
  FROM ph)
SELECT CAST(h.i AS INT) AS h, f[h.i] AS forecast,
       n AS n_months, mean_rev, r1, r2, phi1, phi2
FROM fc, (SELECT unnest(range(1, {_AR_H + 1})) AS i) h
""",
)
def ar2_yule_walker_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) autoregression fit by the Yule-Walker moment equations over
    monthly revenue, with a {h}-month recursive forecast: lag-1/lag-2
    autocorrelations r1, r2 from the centered series, then
    phi1 = r1(1-r2)/(1-r1²), phi2 = (r2-r1²)/(1-r1²), then
    x̂_{{T+h}} = μ + phi1(x̂_{{T+h-1}}-μ) + phi2(x̂_{{T+h-2}}-μ) seeded with
    the last two observations — the autoregressive member of the
    forecasting shelf (Holt captures trend, exponential smoothing
    captures level, Croston captures intermittency; AR captures
    mean-reverting serial correlation, which this series' negative r1
    actually exhibits).

    Determinism (the holt_linear_forecast discipline): monthly revenue
    is cents-exact (DECIMAL sum rounded in the decimal domain, cast
    double last); every moment sum is a LEFT fold over the month-sorted
    array with identical term order in both engines (Spark `aggregate`
    with 0.0 init ≡ DuckDB `list_reduce` — IEEE 0+x = x for positive
    x); r/phi/forecast are short identical-shape double chains; the
    recursion is one fold with the level expression bound once per
    step. Bit-identical, no rounding anywhere.

    Scale: corpus → one exact-decimal row per month map-side; all folds
    touch only the bounded month array.""".format(h=_AR_H)
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
            "transform(array_sort(collect_list(struct(month, revenue))),"
            " x -> x.revenue)"
        ).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    mu = arr.select(
        "a",
        "n",
        (
            F.expr("aggregate(a, CAST(0.0 AS DOUBLE), (x, y) -> x + y)")
            / F.col("n")
        ).alias("mean_rev"),
    )
    gam = mu.select(
        "a",
        "n",
        "mean_rev",
        F.expr(
            "aggregate(transform(sequence(1, n),"
            " i -> (element_at(a, CAST(i AS INT)) - mean_rev)"
            " * (element_at(a, CAST(i AS INT)) - mean_rev)),"
            " CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
        ).alias("g0"),
        F.expr(
            "aggregate(transform(sequence(1, n - 1),"
            " i -> (element_at(a, CAST(i AS INT)) - mean_rev)"
            " * (element_at(a, CAST(i + 1 AS INT)) - mean_rev)),"
            " CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
        ).alias("g1"),
        F.expr(
            "aggregate(transform(sequence(1, n - 2),"
            " i -> (element_at(a, CAST(i AS INT)) - mean_rev)"
            " * (element_at(a, CAST(i + 2 AS INT)) - mean_rev)),"
            " CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
        ).alias("g2"),
    )
    rr = gam.select(
        "a",
        "n",
        "mean_rev",
        (F.col("g1") / F.col("g0")).alias("r1"),
        (F.col("g2") / F.col("g0")).alias("r2"),
    )
    ph = rr.select(
        "a",
        "n",
        "mean_rev",
        "r1",
        "r2",
        (
            F.col("r1") * (F.lit(1.0) - F.col("r2"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("phi1"),
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("phi2"),
    )
    fc = ph.select(
        "n",
        "mean_rev",
        "r1",
        "r2",
        "phi1",
        "phi2",
        F.expr(
            f"slice(aggregate(sequence(1, {_AR_H}),"
            " array(element_at(a, -2), element_at(a, -1)),"
            " (acc, h) -> concat(acc, array("
            "   mean_rev + phi1 * (element_at(acc, -1) - mean_rev)"
            "   + phi2 * (element_at(acc, -2) - mean_rev)))),"
            f" 3, {_AR_H})"
        ).alias("f"),
    )
    return fc.select(
        F.posexplode("f").alias("i", "forecast"),
        F.col("n").alias("n_months"),
        "mean_rev",
        "r1",
        "r2",
        "phi1",
        "phi2",
    ).select(
        (F.col("i") + 1).cast("int").alias("h"),
        "forecast",
        "n_months",
        "mean_rev",
        "r1",
        "r2",
        "phi1",
        "phi2",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit
# ---------------------------------------------------------------------------

_RP_D = 16  # projected dimensions (from 64)
_RP_NQ = 10  # query vectors (vec_id < 10, the ANN-audit set)
_RP_NBUCKETS = 30  # ratio histogram: floor(ratio*10) clamped to [0, 29]

_RP_U_D = (
    "list_transform(embedding::DOUBLE[],"
    " x -> CAST(round((x + 1.0) * 1000000) AS BIGINT))"
)


@query(
    "random_projection_distortion",
    oracle=f"""
WITH sgn AS (
  SELECT j, list_transform(range(1, 65),
             i -> 1 - 2 * (('0x' || substr(md5(j::VARCHAR || '_'
                  || i::VARCHAR), 1, 1))::BIGINT % 2)) AS srow
  FROM (SELECT unnest(range(0, {_RP_D})) AS j)),
smat AS (SELECT list(srow ORDER BY j) AS m FROM sgn),
v AS (SELECT vec_id, {_RP_U_D} AS u FROM embeddings),
proj AS (
  SELECT vec_id, u,
         list_transform(m, row -> CAST(list_aggregate(
             list_transform(range(1, 65), i -> row[i] * u[i]), 'sum')
             AS BIGINT)) AS p
  FROM v, smat),
q AS (SELECT vec_id AS query_id, u AS q_u, p AS q_p FROM proj
      WHERE vec_id < {_RP_NQ}),
pairs AS (
  SELECT q.query_id, proj.vec_id AS nb,
         CAST(list_aggregate(list_transform(range(1, 65),
             i -> (q.q_u[i] - proj.u[i]) * (q.q_u[i] - proj.u[i])), 'sum')
             AS BIGINT) AS do2,
         CAST(list_aggregate(list_transform(range(1, {_RP_D + 1}),
             j -> (q.q_p[j] - proj.p[j]) * (q.q_p[j] - proj.p[j])), 'sum')
             AS BIGINT) AS dp2
  FROM q JOIN proj ON proj.vec_id <> q.query_id),
rat AS (
  SELECT (CAST(dp2 AS DOUBLE) / {_RP_D}) / do2 AS ratio
  FROM pairs WHERE do2 > 0)
SELECT CAST(least(CAST(floor(ratio * 10) AS BIGINT),
                  {_RP_NBUCKETS - 1}) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       min(ratio) AS min_ratio,
       max(ratio) AS max_ratio
FROM rat GROUP BY 1
""",
)
def random_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss SIGNED random projection (Achlioptas 2001:
    a ±1 matrix preserves pairwise L2 up to (1±ε) at D = O(log n / ε²))
    from 64 to {d} dimensions, audited by the theorem's OWN claim: the
    distribution of the distortion ratio (‖Pa−Pb‖²/D) / ‖a−b‖² over the
    standard 10-query × corpus pair set, as a fixed-width histogram
    (bucket = floor(ratio·10), clamped) with per-bucket exact min/max.
    Concentration near 1.0 is what "the projection works" looks like;
    the tail buckets quantify the ε a consumer must budget for. A
    recall@k audit is deliberately NOT the contract here: on isotropic
    embeddings all pairwise distances concentrate, so exact top-k is
    noise-dominated and any projection scores ~chance — the ranking
    audits live with the quantization ladder (SQ8/PQ/Matryoshka),
    whose errors are small relative to inter-point gaps.

    Determinism: sign(j,i) = 1 − 2·(first md5 hex digit of "j_i" mod 2)
    — both engines derive the identical ±1 matrix; vectors quantize
    ONCE into shifted integer micro-units (pq_encode_eval idiom), so
    projections and both squared distances are exact BIGINT end to end;
    the ratio is two IEEE divisions of exact integers (identical both
    engines), and min/max are order-free.

    Scale: the {d}×64 sign matrix is a broadcast literal; projection is
    one in-row transform per vector (a narrow map — at 100 TB this is
    THE point: 4× less vector I/O for every downstream consumer); the
    pair set is queries × corpus (audit-bounded, the lsh_recall_eval
    contract); the histogram is a fixed-width groupBy.""".format(d=_RP_D)
    sgn = spark.range(0, _RP_D).select(
        F.col("id").alias("j"),
        F.expr(
            "transform(sequence(1, 64), i -> 1 - 2 * (cast(conv(substr("
            "md5(concat(cast(j as string), '_', cast(i as string))), 1, 1),"
            " 16, 10) as bigint) % 2))"
        ).alias("srow"),
    )
    smat = sgn.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, srow))), x -> x.srow)"
        ).alias("m")
    )
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round((x + F.lit(1.0)) * 1000000).cast("long"),
        ).alias("u"),
    )
    proj = v.crossJoin(F.broadcast(smat)).select(
        "vec_id",
        "u",
        F.expr(
            "transform(m, row -> aggregate(zip_with(row, u, (s, x) -> s * x),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x))"
        ).alias("p"),
    )
    proj = proj.localCheckpoint(eager=False)  # query + corpus sides
    q = proj.filter(F.col("vec_id") < _RP_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("u").alias("q_u"),
        F.col("p").alias("q_p"),
    )
    pairs = proj.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        F.expr(
            "aggregate(zip_with(q_u, u, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("do2"),
        F.expr(
            "aggregate(zip_with(q_p, p, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dp2"),
    )
    rat = pairs.filter(F.col("do2") > 0).select(
        ((F.col("dp2").cast("double") / F.lit(_RP_D)) / F.col("do2")).alias(
            "ratio"
        )
    )
    return rat.groupBy(
        F.least(
            F.floor(F.col("ratio") * 10).cast("long"),
            F.lit(_RP_NBUCKETS - 1).cast("long"),
        )
        .cast("int")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
    )

# ---------------------------------------------------------------------------
# grid-accelerated DBSCAN over customer behavior features
# ---------------------------------------------------------------------------

_DB_EPS2 = 2  # squared L2 radius in feature units (lattice 8-neighborhood)
_DB_MINPTS = 5
_DB_CELLP = 1048576  # cell id packing: cid = cx * P + cy  (cy << P)


_CC_FOLD_ROUNDS = 32  # >= 2x log2(max node count) with pointer jumping


def inrow_min_label_cc(
    nodes1: DataFrame, edges1: DataFrame, rounds: int = _CC_FOLD_ROUNDS
) -> DataFrame:
    """In-row min-label connected components with pointer jumping over a
    DOMAIN-bounded graph: ``nodes1`` is a 1-row frame with an array
    column ``nodes`` of struct<cid, min_key> (sorted by cid), ``edges1``
    a 1-row frame with array column ``edges`` of struct<doc_a, doc_b>.
    Returns a 1-row frame (nodes, labels) where labels[i] is the 1-based
    index of node i's component representative (the min-cid member).

    Each round takes, per node, the min of (own label, min over
    neighbors' labels, label-of-label) — the pointer-jump term makes
    label propagation contract in O(log diameter) rounds, so the fixed
    budget of {r} rounds is >= 2x the bound for any graph that fits a
    single row (factored out of dbscan_customer_segments so hypothesis
    drives it with long chains and stars and asserts exact agreement
    with a reference CC — tests/test_iterative_properties.py).

    Scale: ONLY for domain-bounded graphs (grid cells, bucket lattices);
    row-count-bounded graphs go through operators/scale.py's distributed
    pointer-jump CC instead.""".format(r=_CC_FOLD_ROUNDS)
    # Adjacency is built DISTRIBUTEDLY (r09 opt): the former in-row form
    # resolved each edge endpoint with array_position (O(V) per lookup)
    # and built each node's neighbor list by filtering the full edge
    # array (O(E) per node) — O(V*E) interpreted-HOF work in ONE task
    # (measured 3.1 s of dbscan's wall at sf0.1). Here endpoints resolve
    # via two broadcast hash joins against the posexploded node index
    # and neighbor lists come from one groupBy — O(E) distributed — so
    # only the O(rounds*(V+E)) label fold stays in-row. Same labels:
    # identical fold, and duplicate/self edges were tolerated before and
    # after (min over neighbor labels is idempotent).
    idx = nodes1.select(
        F.posexplode("nodes").alias("pos", "nd")
    ).select((F.col("pos") + 1).cast("int").alias("i"), F.col("nd.cid").alias("cid"))
    ed = edges1.select(F.explode("edges").alias("ed"))
    eidx = (
        ed.join(
            F.broadcast(idx.select(F.col("cid").alias("ca"), F.col("i").alias("ai"))),
            F.col("ed.doc_a") == F.col("ca"),
        )
        .join(
            F.broadcast(idx.select(F.col("cid").alias("cb"), F.col("i").alias("bi"))),
            F.col("ed.doc_b") == F.col("cb"),
        )
        .select("ai", "bi")
    )
    sym = eidx.union(eidx.select(F.col("bi").alias("ai"), F.col("ai").alias("bi")))
    adjp = sym.groupBy(F.col("ai").alias("i")).agg(
        F.collect_list("bi").alias("nbrs")
    )
    adj1 = (
        idx.join(adjp, "i", "left")
        .select("i", F.coalesce("nbrs", F.array().cast("array<int>")).alias("nbrs"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, nbrs))), x -> x.nbrs)"
            ).alias("adj_idx")
        )
    )
    return (
        nodes1.crossJoin(adj1)
        .select(
            "nodes",
            F.expr(
                f"""
aggregate(sequence(1, {rounds}), sequence(1, size(nodes)),
  (labels, unused) -> zip_with(labels, adj_idx, (l, nbrs) ->
    least(l,
          coalesce(array_min(transform(nbrs,
            j -> element_at(labels, j))), l),
          element_at(labels, l))))
""".strip()
            ).alias("labels"),
        )
    )


@query(
    "dbscan_customer_segments",
    oracle=f"""
WITH RECURSIVE feats AS (
  SELECT c.c_custkey AS key,
         CAST(count(o.o_orderkey) AS BIGINT) AS x,
         CAST(round(COALESCE(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                    / 100000, 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1),
cells AS (
  SELECT x AS cx, y AS cy, CAST(count(*) AS BIGINT) AS cnt,
         min(key) AS min_key, x * {_DB_CELLP} + y AS cid
  FROM feats GROUP BY 1, 2),
offs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM (SELECT unnest(range(-1, 2)) AS d) dx,
       (SELECT unnest(range(-1, 2)) AS d) dy
  WHERE dx.d * dx.d + dy.d * dy.d <= {_DB_EPS2}),
nbr AS (
  SELECT a.cid, CAST(sum(b.cnt) - 1 AS BIGINT) AS n_neighbors
  FROM cells a JOIN offs ON TRUE
  JOIN cells b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  GROUP BY 1),
core AS (
  SELECT c.cx, c.cy, c.cnt, c.min_key, c.cid, n.n_neighbors,
         n.n_neighbors >= {_DB_MINPTS} AS is_core
  FROM cells c JOIN nbr n USING (cid)),
e AS (
  SELECT a.cid AS doc_a, b.cid AS doc_b
  FROM core a JOIN offs ON TRUE
  JOIN core b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  WHERE a.is_core AND b.is_core AND a.cid < b.cid),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM e
          UNION ALL SELECT doc_b, doc_a FROM e),
reach(src, dst) AS (
  SELECT cid, cid FROM core WHERE is_core
  UNION
  SELECT r.src, x.dst FROM reach r JOIN edges x ON r.dst = x.src),
lab AS (SELECT src AS cid, min(dst) AS comp FROM reach GROUP BY 1),
ckey AS (
  SELECT l.comp, min(c.min_key) AS cluster_key
  FROM lab l JOIN core c USING (cid) GROUP BY 1),
cmap AS (SELECT l.cid, k.cluster_key FROM lab l JOIN ckey k USING (comp)),
battach AS (
  SELECT a.cid, min(m.cluster_key) AS cluster_key
  FROM core a JOIN offs ON TRUE
  JOIN core b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  JOIN cmap m ON m.cid = b.cid
  WHERE NOT a.is_core AND b.is_core
  GROUP BY 1)
SELECT c.cx, c.cy, c.cnt AS n_customers, c.n_neighbors,
       CASE WHEN c.is_core THEN 'core'
            WHEN battach.cid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CASE WHEN c.is_core THEN cmap.cluster_key
            ELSE battach.cluster_key END AS cluster_key
FROM core c
LEFT JOIN cmap ON cmap.cid = c.cid
LEFT JOIN battach ON battach.cid = c.cid
""",
)
def dbscan_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DBSCAN (Ester et al. 1996) over the customer behavior plane
    (order count, lifetime spend in $100k units), grid-accelerated: the
    features are integer LATTICE points, so an ε²={e2} neighborhood is
    exactly the 3×3 cell block and the whole algorithm collapses to
    CELL-level arithmetic — neighbor counts are sums over ≤9 adjacent
    cell counts, core-ness (≥{mp} neighbors) is a per-cell property
    (co-located points are indistinguishable), clusters are connected
    components of the CORE-CELL adjacency graph (computed as ONE in-row
    min-label fold with pointer jumping — the cell graph is
    domain-bounded, so distributing its CC is pure scheduler overhead),
    and border cells attach
    to the min cluster key among adjacent core cells. Output is the
    density map: one row per occupied cell with its population, point
    neighbor count, core/border/noise role, and cluster key (min
    customer key in the cluster; NULL for noise). Noise cells ARE the
    actionable outlier report (whales and dormant accounts that every
    centroid method mangles into the nearest blob).

    This is the classic grid/cell DBSCAN decomposition — and the reason
    it scales: candidate generation is a fixed 9-cell stencil join on
    cell coordinates (never a point-level distance join), cell count is
    bounded by the FEATURE DOMAIN (not the row count), and the CC runs
    on the core-cell graph, which is smaller still. At 100 TB the
    point→cell collapse is one map-side groupBy; everything after is
    domain-bounded. The same decomposition is why the DuckDB oracle's
    recursive closure stays tiny while a point-level closure would be
    |cluster|² rows.

    Exactness: features are exact integers (DECIMAL spend rounded in
    the decimal domain ONCE); every count, threshold, and cluster key
    is integer; role ties cannot exist (core-ness is a deterministic
    inequality; border attachment takes the MIN key)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    feats = (
        c.join(o, c["key"] == o["o_custkey"], "left")
        .groupBy("key")
        .agg(
            F.count("o_custkey").cast("long").alias("x"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                )
                / 100000,
                0,
            )
            .cast("long")
            .alias("y"),
        )
    )
    cells = (
        feats.groupBy(F.col("x").alias("cx"), F.col("y").alias("cy"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("key").alias("min_key"),
        )
        .withColumn("cid", F.col("cx") * _DB_CELLP + F.col("cy"))
    )
    cells = cells.localCheckpoint(eager=False)  # stencil joins reuse it 4x
    offs = [
        (dx, dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if dx * dx + dy * dy <= _DB_EPS2
    ]
    offs_df = spark.createDataFrame(offs, ["dx", "dy"])
    b_side = cells.select(
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
        F.col("cnt").alias("bcnt"),
        F.col("cid").alias("bcid"),
    )
    nbr = (
        cells.crossJoin(F.broadcast(offs_df))
        .join(
            b_side,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
        )
        .groupBy("cid")
        .agg((F.sum("bcnt") - 1).cast("long").alias("n_neighbors"))
    )
    core = cells.join(nbr, on="cid").withColumn(
        "is_core", F.col("n_neighbors") >= _DB_MINPTS
    )
    core = core.localCheckpoint(eager=False)
    core_b = core.filter("is_core").select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("cid").alias("bcid")
    )
    e = (
        core.filter("is_core")
        .crossJoin(F.broadcast(offs_df))
        .join(
            core_b,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
        )
        .filter(F.col("cid") < F.col("bcid"))
        .select(F.col("cid").alias("doc_a"), F.col("bcid").alias("doc_b"))
    )
    # The core-cell graph is DOMAIN-bounded (≤ |x-domain|·|y-domain|
    # cells, ~2000 max here — never row-count-bounded), so distributing
    # its connected components is pure scheduler overhead: the
    # round-per-job propagation cost 40 rounds plain / 7 rounds with
    # pointer jumping (21 s / 6 s at sf0.1). Instead the whole CC runs
    # as ONE in-row fold (the isotonic_calibration pattern): collect
    # cells+edges into a single row, build index-space adjacency once,
    # then 32 rounds of (own, neighbor-min, label-of-label) min-label
    # with pointer jumping — ≥ 2x the log2(V) bound, each round O(E)
    # inside one task. Equality with the oracle's recursive closure is
    # gated at three SFs.
    nodes1 = (
        core.filter("is_core")
        .agg(
            F.expr("array_sort(collect_list(struct(cid, min_key)))").alias(
                "nodes"
            )
        )
    )
    edges1 = e.agg(
        F.expr("collect_list(struct(doc_a, doc_b))").alias("edges")
    )
    lab = inrow_min_label_cc(nodes1, edges1)
    member = lab.select(
        F.expr(
            "explode(zip_with(nodes, labels,"
            " (nd, l) -> struct(nd.cid AS cid, nd.min_key AS min_key,"
            " l AS root)))"
        ).alias("m")
    ).select("m.cid", "m.min_key", "m.root")
    member = member.localCheckpoint(eager=False)
    ckey = member.groupBy("root").agg(F.min("min_key").alias("cluster_key"))
    cmap = member.join(F.broadcast(ckey), on="root").select("cid", "cluster_key")
    cmap = cmap.localCheckpoint(eager=False)
    battach = (
        core.filter(~F.col("is_core"))
        .crossJoin(F.broadcast(offs_df))
        .join(
            core_b,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
        )
        .join(
            cmap.select(F.col("cid").alias("bcid"), "cluster_key"), on="bcid"
        )
        .groupBy("cid")
        .agg(F.min("cluster_key").alias("b_key"))
    )
    return (
        core.join(cmap.withColumnRenamed("cluster_key", "c_key"), "cid", "left")
        .join(battach, "cid", "left")
        .select(
            "cx",
            "cy",
            F.col("cnt").alias("n_customers"),
            "n_neighbors",
            F.when(F.col("is_core"), "core")
            .when(F.col("b_key").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.when(F.col("is_core"), F.col("c_key"))
            .otherwise(F.col("b_key"))
            .alias("cluster_key"),
        )
    )

# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy
# ---------------------------------------------------------------------------

_MK_TRAIN_PCT = 80  # user-hash split (the corpus split idiom)


@query(
    "markov_prediction_accuracy",
    oracle=f"""
WITH u AS (
  SELECT *,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100
           < {_MK_TRAIN_PCT} AS is_train
  FROM events),
s AS (
  SELECT user_id, is_train, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM u),
tr AS (
  SELECT event_type AS from_type, nxt AS to_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE nxt IS NOT NULL AND is_train GROUP BY 1, 2),
pred AS (
  SELECT from_type,
         min(struct_pack(nn := -n, to_type := to_type)).to_type
           AS predicted_type
  FROM tr GROUP BY 1),
te AS (
  SELECT event_type AS from_type, nxt AS to_type
  FROM s WHERE nxt IS NOT NULL AND NOT is_train)
SELECT te.from_type, p.predicted_type,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN te.to_type = p.predicted_type THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       sum(CASE WHEN te.to_type = p.predicted_type THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE) AS accuracy
FROM te JOIN pred p USING (from_type)
GROUP BY 1, 2
""",
)
def markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out predictive accuracy of the first-order Markov model
    event_transition_matrix estimates: train argmax P(next | current) on
    the {p}% user-hash split, predict the next event type for every
    held-out transition, and report per-state accuracy — the number that
    says whether the transition matrix is a MODEL or just a description
    (a matrix whose rows are near-uniform describes traffic fine and
    predicts nothing; this query measures which).

    Cross-engine determinism: the split is the md5 user-hash idiom;
    the argmax breaks count ties by (−n, to_type) struct-min (exact
    integers); accuracy is one IEEE division of exact counts.

    Scale: training is the |types|² transition groupBy; prediction is a
    broadcast join of the |types|-row argmax table against the test
    stream's map-side pair extraction; per-user windows never globalize
    (the event_transition_matrix contract).""".format(p=_MK_TRAIN_PCT)
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").withColumn(
        "is_train",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 100
            < _MK_TRAIN_PCT
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "is_train",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    s = s.localCheckpoint(eager=False)  # train + test branches
    tr = (
        s.filter("is_train")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pred = tr.groupBy("from_type").agg(
        F.min(F.struct((-F.col("n")).alias("nn"), "to_type"))["to_type"].alias(
            "predicted_type"
        )
    )
    return (
        s.filter(~F.col("is_train"))
        .join(F.broadcast(pred), on="from_type")
        .groupBy("from_type", "predicted_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("to_type") == F.col("predicted_type"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "from_type",
            "predicted_type",
            "n_test",
            "n_correct",
            (F.col("n_correct") / F.col("n_test").cast("double")).alias(
                "accuracy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# frequent triple itemsets (Apriori level 3)
# ---------------------------------------------------------------------------

_TRI_TOP = 20


@query(
    "frequent_triple_itemsets",
    oracle=f"""
WITH b AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY 1),
tri AS (
  -- in-row C(|basket|,3) expansion, the same shape the Spark plan uses
  -- (a 3-way self-join of the item table is quadratic-plus and took
  -- 167 s at sf0.1; this form takes <1 s)
  SELECT u.x, u.y, u.z, CAST(count(*) AS BIGINT) AS n_orders
  FROM (SELECT unnest(flatten(flatten(list_transform(parts, (a, i) ->
          list_transform(parts[i+1:], (b2, j) ->
            list_transform(parts[i+j+1:], c -> {{'x': a, 'y': b2, 'z': c}})))))) AS u
        FROM b), LATERAL (SELECT u.x AS x, u.y AS y, u.z AS z) q
  GROUP BY 1, 2, 3),
top AS (
  SELECT x, y, z, n_orders FROM tri
  ORDER BY n_orders DESC, x, y, z LIMIT {_TRI_TOP}),
pairs AS (
  SELECT u.pa, u.pb, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(flatten(list_transform(parts, (a, i) ->
          list_transform(parts[i+1:], b2 -> {{'pa': a, 'pb': b2}})))) AS u
        FROM b), LATERAL (SELECT u.pa AS pa, u.pb AS pb) q
  GROUP BY 1, 2)
SELECT t.x, t.y, t.z, t.n_orders,
       least(xy.n, xz.n, yz.n) AS min_pair_support
FROM top t
JOIN pairs xy ON xy.pa = t.x AND xy.pb = t.y
JOIN pairs xz ON xz.pa = t.x AND xz.pb = t.z
JOIN pairs yz ON yz.pa = t.y AND yz.pb = t.z
""",
)
def frequent_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3: the top-{k} part TRIPLES by co-purchase support,
    each with the minimum support of its three item pairs — the Apriori
    bound (support(xyz) <= min pair support) shown next to the actual,
    which is exactly the pruning inequality a production run exploits.
    Extends the itemset shelf one level above `part_cooccurrence`
    (pairs) and `basket_association_rules` (pair-rule confidence/lift);
    reported as a ranked top-{k} rather than a fixed min-support cut
    because absolute support falls with the part-keyspace scale (0
    triples reach support 2 at sf0.1 — a floor-cut output would be
    empty there, true but uninformative).

    Cross-engine determinism: counts are exact; the top-{k} breaks ties
    by the item ids themselves.

    Scale: baskets explode to C(|basket|,3) in-row triples (bounded by
    order width, ~35 per 7-item basket) and collapse map-side — never a
    self-join of the lineitem table; at a real min-support threshold
    the standard Apriori prune broadcast-filters candidate triples by
    frequent-pair membership BEFORE the explode, cutting the fan-out to
    the frequent sublattice. The pair-support join is three broadcast
    probes of the (bounded) top-{k} rows against the pair counts.""".format(
        k=_TRI_TOP
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    baskets = baskets.localCheckpoint(eager=False)  # triples + pairs branches
    # C(w,3) expansion as a chain of Generate operators (posexplode x ->
    # posexplode tail y -> explode tail z) instead of one
    # flatten(flatten(transform(...))) lambda tree: the chain streams
    # row-by-row through pipelined generators while the lambda form
    # materializes the full nested triple array per basket before
    # exploding — measured 9.3 s -> 1.1 s for the 16M-instance expansion
    # on the 10x corpus (tools/scale_smoke_mining.py)
    t1 = baskets.filter(F.size("parts") >= 3).select(
        "parts", F.posexplode("parts").alias("i", "x")
    )
    t2 = t1.select(
        "parts",
        "i",
        "x",
        F.posexplode(F.expr("slice(parts, i + 2, size(parts))")).alias("j", "y"),
    )
    t3 = t2.select(
        "x", "y", F.explode(F.expr("slice(parts, i + j + 3, size(parts))")).alias("z")
    )
    tri = t3.groupBy("x", "y", "z").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    top = tri.orderBy(F.desc("n_orders"), "x", "y", "z").limit(_TRI_TOP)
    p1 = baskets.filter(F.size("parts") >= 2).select(
        "parts", F.posexplode("parts").alias("i", "pa")
    )
    p2 = p1.select(
        "pa", F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("pb")
    )
    pairs = p2.groupBy("pa", "pb").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = pairs.localCheckpoint(eager=False)  # probed three times
    xy = pairs.select(
        F.col("pa").alias("x"), F.col("pb").alias("y"), F.col("n").alias("n_xy")
    )
    xz = pairs.select(
        F.col("pa").alias("x"), F.col("pb").alias("z"), F.col("n").alias("n_xz")
    )
    yz = pairs.select(
        F.col("pa").alias("y"), F.col("pb").alias("z"), F.col("n").alias("n_yz")
    )
    return (
        top.join(xy, on=["x", "y"])
        .join(xz, on=["x", "z"])
        .join(yz, on=["y", "z"])
        .select(
            "x",
            "y",
            "z",
            "n_orders",
            F.least("n_xy", "n_xz", "n_yz").alias("min_pair_support"),
        )
    )

# ---------------------------------------------------------------------------
# isotonic calibration (PAVA) of the learned quality classifier
# ---------------------------------------------------------------------------

from ecommerce_lakehouse_spark.queries.llm10 import (  # noqa: E402
    _QC_CTE,
    _qc_test_scores,
)

_ISO_ROUNDS = 10  # buckets - 1: PAVA's worst-case merge count


def _iso_round_sql(prev: str, cur: str) -> str:
    # each block table is referenced twice (violation scan + merge), so
    # it MUST be MATERIALIZED — inlined CTEs would re-evaluate the whole
    # classifier-scoring chain 2^rounds times
    return f"""v_{cur} AS (
  SELECT min(bs) AS vmin FROM (
    SELECT bs, p * lead(n) OVER w > lead(p) OVER w * n AS viol
    FROM {prev} WINDOW w AS (ORDER BY bs)) WHERE viol),
{cur} AS MATERIALIZED (
  SELECT bs,
         CASE WHEN bs = v.vmin THEN lead_be ELSE be END AS be,
         CASE WHEN bs = v.vmin THEN n + lead_n ELSE n END AS n,
         CASE WHEN bs = v.vmin THEN p + lead_p ELSE p END AS p
  FROM (SELECT bs, be, n, p,
               lead(be) OVER w AS lead_be,
               lead(n) OVER w AS lead_n,
               lead(p) OVER w AS lead_p,
               lag(bs) OVER w AS prev_bs
        FROM {prev} WINDOW w AS (ORDER BY bs)) t, v_{cur} v
  WHERE v.vmin IS NULL OR prev_bs IS NULL OR prev_bs <> v.vmin)"""


def pava_fold_sql(arr_col: str, rounds: int) -> str:
    """SQL for the in-row PAVA stack fold over a sorted array column of
    struct<bs, n, p> bucket stats: push each bucket as a singleton
    block, then merge-down while the top two blocks strictly violate
    monotonicity (integer cross-multiplied rate compare — never a float
    division). ``rounds`` must be >= buckets - 1, the worst-case
    single-push merge cascade; the fold is a no-op once the stack is
    monotone, so an over-budget never changes the result (property:
    tests/test_iterative_properties.py drives it with strict-violation
    stacks against a reference PAVA). Returns blocks of
    struct<bs, be, n, p> (bucket range, pooled counts)."""
    return f"""
aggregate({arr_col},
  CAST(array() AS array<struct<bs: bigint, be: bigint, n: bigint, p: bigint>>),
  (st, x) -> aggregate(sequence(1, {rounds + 1}),
    concat(st, array(struct(x.bs AS bs, x.bs AS be, x.n AS n, x.p AS p))),
    (s, unused) -> IF(size(s) >= 2
        AND element_at(s, -2).p * element_at(s, -1).n
            > element_at(s, -1).p * element_at(s, -2).n,
      concat(slice(s, 1, size(s) - 2), array(struct(
        element_at(s, -2).bs AS bs,
        element_at(s, -1).be AS be,
        element_at(s, -2).n + element_at(s, -1).n AS n,
        element_at(s, -2).p + element_at(s, -1).p AS p))),
      s)))
""".strip()


@query(
    "isotonic_calibration",
    oracle=_QC_CTE
    + """,
curve AS (
  SELECT CAST(least(greatest(CAST(floor(score / 2000000000.0) AS BIGINT),
                             -5), 5) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN label = 'pass' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass
  FROM test GROUP BY 1),
b0 AS MATERIALIZED (SELECT bucket AS bs, bucket AS be, n_docs AS n,
                           n_pass AS p FROM curve),
"""
    + ",\n".join(
        _iso_round_sql(f"b{r}", f"b{r + 1}") for r in range(_ISO_ROUNDS)
    )
    + f"""
SELECT CAST(bs AS INT) AS bucket_start, CAST(be AS INT) AS bucket_end,
       n AS n_docs, p AS n_pass,
       CAST(p AS DOUBLE) / n AS iso_rate
FROM b{_ISO_ROUNDS}
""",
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators, Ayer 1955) over the
    quality classifier's held-out score buckets: merge adjacent buckets
    while a LEFT bucket's pass rate exceeds its right neighbor's, until
    the rate is monotone in score — turning the raw reliability diagram
    (classifier_calibration_curve, which can wiggle) into the calibrated
    score→P(pass) step function a production threshold reads off. The
    output blocks ARE the calibrator: score in [start, end] ⇒
    probability = block's pooled pass rate.

    PAVA here is deterministic and exact: the violation test is the
    cross-multiplied integer inequality p_i·n_{{i+1}} > p_{{i+1}}·n_i
    (never a float rate compare), and all block sums are integer. The
    two engines run different-but-equivalent merge schedules — Spark a
    single in-row stack fold (push each bucket, merge-down while the
    top two blocks violate), the oracle {r} unrolled leftmost-merge
    rounds — which is safe because the strict-violation PAVA block
    partition is merge-order-independent (the isotonic fit is a unique
    projection and pooling is associative on violating runs); equality
    is enforced by the oracle gate at three SFs. The pooled rate is one
    exact division at the end.

    Scale: the domain is the BUCKET table (≤11 rows however large the
    corpus — the same bounded-domain contract as the calibration
    curve), so the whole regression is ONE tiny aggregate after the
    shared per-doc scoring body (one broadcast weight join). The
    round-per-job form this replaced spent 10 window+join+barrier
    rounds of pure job overhead (9.4 s → 1 aggregate).""".format(
        r=_ISO_ROUNDS
    )
    t = _qc_test_scores(spark, sf_dir)
    curve = t.groupBy(
        F.least(
            F.greatest(
                F.floor(F.col("score") / F.lit(2000000000.0)).cast("long"),
                F.lit(-5).cast("long"),
            ),
            F.lit(5).cast("long"),
        ).alias("bs")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("label") == "pass", 1).otherwise(0))
        .cast("long")
        .alias("p"),
    )
    # the whole PAVA runs as ONE in-row stack fold over the sorted bucket
    # array (the domain is <=11 buckets by construction): push each bucket
    # as a singleton block, then merge-down while the top two blocks
    # violate — the inner bounded fold covers the worst-case cascade.
    # Equivalent to the oracle's leftmost-merge rounds (the PAVA block
    # partition under strict-violation pooling is merge-order-independent)
    # at a fraction of the cost: the round-per-job form ran 10 tiny
    # window+join+barrier rounds (9.4 s at sf0.1); this is one aggregate.
    arr = curve.agg(
        F.expr("array_sort(collect_list(struct(bs, n, p)))").alias("a")
    )
    folded = arr.select(F.expr(pava_fold_sql("a", _ISO_ROUNDS)).alias("blocks"))
    return folded.select(F.explode("blocks").alias("b")).select(
        F.col("b.bs").cast("int").alias("bucket_start"),
        F.col("b.be").cast("int").alias("bucket_end"),
        F.col("b.n").alias("n_docs"),
        F.col("b.p").alias("n_pass"),
        (F.col("b.p").cast("double") / F.col("b.n")).alias("iso_rate"),
    )

# ---------------------------------------------------------------------------
# binary-segmentation change points (depth 2)
# ---------------------------------------------------------------------------


@query(
    "binary_segmentation_changepoints",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS t
        FROM d),
s AS (
  SELECT day, cents,
         sum(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM d),
c AS (
  SELECT day, cents,
         (CAST(cum AS DOUBLE)
          - CAST(i AS DOUBLE) * (CAST(tot.t AS DOUBLE) / tot.n)) / 100.0
           AS cusum,
         tot.n AS n, tot.t AS t
  FROM s CROSS JOIN tot),
cp1 AS (SELECT day AS cp_day, cusum, n, t FROM c
        ORDER BY abs(cusum) DESC, day LIMIT 1),
seg AS (
  SELECT d.day, d.cents,
         CASE WHEN d.day <= cp1.cp_day THEN 'left' ELSE 'right' END AS segment
  FROM d CROSS JOIN cp1),
segtot AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS t
  FROM seg GROUP BY 1),
s2 AS (
  SELECT seg.segment, seg.day,
         sum(cents) OVER (PARTITION BY segment ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(row_number() OVER (PARTITION BY segment ORDER BY day)
              AS BIGINT) AS i
  FROM seg),
c2 AS (
  SELECT s2.segment, s2.day,
         (CAST(s2.cum AS DOUBLE)
          - CAST(s2.i AS DOUBLE)
            * (CAST(st.t AS DOUBLE) / st.n)) / 100.0 AS cusum,
         st.n, st.t
  FROM s2 JOIN segtot st USING (segment)),
best2 AS (
  SELECT segment, day, cusum, n, t FROM (
    SELECT *, row_number() OVER (PARTITION BY segment
                                 ORDER BY abs(cusum) DESC, day) AS rn
    FROM c2) WHERE rn = 1)
SELECT 'full' AS segment, cp_day AS changepoint_day, cusum AS cusum_at_peak,
       n AS n_days, (CAST(t AS DOUBLE) / n) / 100.0 AS seg_mean_daily
FROM cp1
UNION ALL
SELECT segment, day, cusum, n, (CAST(t AS DOUBLE) / n) / 100.0
FROM best2
""",
)
def binary_segmentation_changepoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary segmentation (Scott & Knott 1974; the standard greedy
    multiple-change-point scheme) at depth 2 over daily revenue: the
    global |CUSUM| argmax splits the series (the
    revenue_cusum_changepoint estimator), then each half is re-scanned
    against its OWN mean for a second-level change point — three rows
    (full/left/right), each with the peak day, the peak CUSUM value,
    and the segment's size and mean. One change point answers "did the
    level shift"; the depth-2 tree answers "did it shift again inside
    either regime" — the first question a drift analyst asks after the
    first answer.

    Determinism: daily sums are exact integer cents; per-segment
    running sums are exact BIGINT windows keyed by the segment; each
    CUSUM value is the same two fixed-order IEEE ops on exact inputs
    in both engines; every argmax breaks ties by day.

    Scale: the corpus collapses map-side to one row per day; both scan
    levels are windows over that bounded day-level frame, partitioned
    by segment at depth 2 (aggregate-bounded windows, the sanctioned
    class); the split point broadcasts as one row."""
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    return binseg_tree(d)


def binseg_tree(d: DataFrame) -> DataFrame:
    """Depth-2 binary segmentation over any exact (day, cents) daily
    frame — factored out of the query so hypothesis can drive it with
    synthetic series (step functions, monotone ramps, constants) and
    assert the split/CUSUM agree with a pure-Python reference
    (tests/test_iterative_properties.py)."""
    from pyspark.sql import Window

    d = d.localCheckpoint(eager=False)  # both scan levels reuse it
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        d.select(
            "day",
            F.sum("cents").over(w_cum).alias("cum"),
            F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            (
                (
                    F.col("cum").cast("double")
                    - F.col("i").cast("double")
                    * (F.col("t").cast("double") / F.col("n"))
                )
                / 100.0
            ).alias("cusum"),
            "n",
            "t",
        )
    )
    cp1 = (
        c.orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("cp_day"), "cusum", "n", "t"
        )
    )
    cp1 = cp1.localCheckpoint(eager=False)
    seg = d.crossJoin(F.broadcast(cp1.select("cp_day"))).select(
        "day",
        "cents",
        F.when(F.col("day") <= F.col("cp_day"), "left")
        .otherwise("right")
        .alias("segment"),
    )
    segtot = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    w_seg = (
        Window.partitionBy("segment")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rn = Window.partitionBy("segment").orderBy("day")
    s2 = seg.select(
        "segment",
        "day",
        F.sum("cents").over(w_seg).alias("cum"),
        F.row_number().over(w_rn).cast("long").alias("i"),
    )
    c2 = s2.join(F.broadcast(segtot), on="segment").select(
        "segment",
        "day",
        (
            (
                F.col("cum").cast("double")
                - F.col("i").cast("double")
                * (F.col("t").cast("double") / F.col("n"))
            )
            / 100.0
        ).alias("cusum"),
        "n",
        "t",
    )
    w_best = Window.partitionBy("segment").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    best2 = (
        c2.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("segment", "day", "cusum", "n", "t")
    )
    mean_col = (F.col("t").cast("double") / F.col("n")) / F.lit(100.0)
    full_row = cp1.select(
        F.lit("full").alias("segment"),
        F.col("cp_day").alias("changepoint_day"),
        F.col("cusum").alias("cusum_at_peak"),
        F.col("n").alias("n_days"),
        mean_col.alias("seg_mean_daily"),
    )
    sub_rows = best2.select(
        "segment",
        F.col("day").alias("changepoint_day"),
        F.col("cusum").alias("cusum_at_peak"),
        F.col("n").alias("n_days"),
        mean_col.alias("seg_mean_daily"),
    )
    return full_row.unionByName(sub_rows)

# ---------------------------------------------------------------------------
# quantile treatment effects (distributional A/B readout)
# ---------------------------------------------------------------------------


@query(
    "quantile_treatment_effects",
    oracle="""
WITH f AS (
  SELECT c.c_custkey AS key,
         ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % 2 AS grp,
         CAST(COALESCE(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) * 100
              AS BIGINT) AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
r AS (
  SELECT grp, cents,
         row_number() OVER (PARTITION BY grp ORDER BY cents, key) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM f),
d AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS decile),
q AS (
  SELECT d.decile, r.grp, r.cents, r.n
  FROM r JOIN d ON r.rn = (d.decile * r.n + 9) // 10)
SELECT decile,
       CAST(max(CASE WHEN grp = 1 THEN cents END) AS DOUBLE) / 100.0
         AS q_treatment,
       CAST(max(CASE WHEN grp = 0 THEN cents END) AS DOUBLE) / 100.0
         AS q_control,
       CAST(max(CASE WHEN grp = 1 THEN cents END)
            - max(CASE WHEN grp = 0 THEN cents END) AS DOUBLE) / 100.0
         AS qte,
       max(CASE WHEN grp = 1 THEN n END) AS n_treatment,
       max(CASE WHEN grp = 0 THEN n END) AS n_control
FROM q GROUP BY 1
""",
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (Doksum 1974): the per-decile
    difference between the treatment and control spend distributions
    under the deterministic customer-hash split — the DISTRIBUTIONAL
    A/B readout that mean-lift (ab_test_lift) and CUPED cannot give
    (a treatment that helps the median but hurts the tail nets to
    zero in the mean; QTE shows where the distribution moved). On
    this synthetic corpus the split is an A/A, so near-zero QTE at
    every decile doubles as the splitter's distributional
    unbiasedness audit, decile by decile.

    Exactness: spend is exact integer cents (DECIMAL sums); each
    decile is a SELECTION statistic — the value at rank
    ceil(d·n/10) = (d·n+9) DIV 10 within the group, ties broken by
    customer key — never an interpolation; the reported values and
    differences are exact-integer renders.

    Scale: per-group rank windows over the customer-collapsed frame
    (two hash partitions; at 100 TB pre-aggregate to (grp, cents,
    freq) and rank over running frequency sums — the
    grouped_median_doclen note, generalized); the decile spine is a
    9-row broadcast."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    f = (
        c.join(o, c["key"] == o["o_custkey"], "left")
        .groupBy(
            "key",
            (
                F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10)
                .cast("long")
                % 2
            ).alias("grp"),
        )
        .agg(
            (
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                )
                * 100
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("grp").orderBy(F.asc("cents"), F.asc("key"))
    wc = Window.partitionBy("grp")
    r = f.select(
        "grp",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
    )
    d = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    # ceil(d*n/10) expressed as the exact integer (d*n+9) DIV 10
    q = r.join(
        F.broadcast(d),
        F.col("rn") == F.expr("(decile * n + 9) DIV 10"),
    )
    return q.groupBy("decile").agg(
        (
            F.max(F.when(F.col("grp") == 1, F.col("cents"))).cast("double")
            / 100.0
        ).alias("q_treatment"),
        (
            F.max(F.when(F.col("grp") == 0, F.col("cents"))).cast("double")
            / 100.0
        ).alias("q_control"),
        (
            (
                F.max(F.when(F.col("grp") == 1, F.col("cents")))
                - F.max(F.when(F.col("grp") == 0, F.col("cents")))
            ).cast("double")
            / 100.0
        ).alias("qte"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_treatment"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_control"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy profile of daily revenue
# ---------------------------------------------------------------------------

_HW_LEVELS = 12  # 2^12 = 4096 >= the ~2.4k-day order-date domain


@query(
    "haar_wavelet_energy",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({{'day': day, 'c': cents}})),
                        x -> x.c) AS a
  FROM d),
pad AS (
  SELECT a || list_transform(range(1, {2 ** _HW_LEVELS} + 1 - len(a)),
               x -> CAST(0 AS BIGINT)) AS a
  FROM arr),
lv AS (
  SELECT list_reduce(
    list_prepend([{{'arr': a, 'en': CAST(0 AS DOUBLE), 'nc': CAST(0 AS BIGINT)}}],
      list_transform(range(1, {_HW_LEVELS + 1}),
                     x -> [{{'arr': CAST([] AS BIGINT[]),
                             'en': CAST(0 AS DOUBLE),
                             'nc': CAST(0 AS BIGINT)}}])),
    (acc, e) -> list_append(acc, {{
      'arr': list_transform(range(1, len(acc[-1].arr) // 2 + 1),
                            i -> acc[-1].arr[2*i-1] + acc[-1].arr[2*i]),
      'en': list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(1, len(acc[-1].arr) // 2 + 1),
                i -> CAST(acc[-1].arr[2*i-1] - acc[-1].arr[2*i] AS DOUBLE)
                     * CAST(acc[-1].arr[2*i-1] - acc[-1].arr[2*i]
                            AS DOUBLE))),
              (s, x) -> s + x),
      'nc': CAST(len(acc[-1].arr) // 2 AS BIGINT)}})) AS st
  FROM pad)
SELECT CAST(h.i AS INT) AS level,
       st[h.i + 1].nc AS n_coeffs,
       st[h.i + 1].en / (CAST(1 AS BIGINT) << h.i) AS detail_energy
FROM lv, (SELECT unnest(range(1, {_HW_LEVELS + 1})) AS i) h
""",
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multi-resolution energy profile of daily revenue
    (Haar 1910; the O(n) discrete wavelet transform): the zero-padded
    day-level series halves {lv} times, each level emitting its detail
    (pairwise-difference) energy — level 1 is day-to-day noise, level
    ~3 the weekly rhythm, level ~8 the quarterly swing. Where the ACF
    and the seasonal decomposition each answer one fixed period, the
    wavelet energy ladder localizes WHICH timescales carry the series'
    variance in one pass — the standard multi-resolution screen before
    fitting any seasonal model.

    Determinism: the transform runs UNNORMALIZED — approx = a+b,
    detail = a−b stay exact BIGINT at every level (true Haar divides
    by √2 per level; equivalently energy at level L divides by 2^L,
    done once at render). Squared details at the TOP levels exceed
    int64 (the zero-pad boundary makes the last detail ≈ the series
    total), so energies accumulate as explicitly LEFT-ORDERED double
    folds of exact-integer-derived terms — the identical IEEE sequence
    in both engines (holt_linear_forecast discipline). Zero-padding to
    2^{lv} is part of the operator contract (both engines pad
    identically).

    Scale: the corpus collapses map-side to the date-domain-bounded
    daily frame; the full transform is ONE in-row fold over the
    4096-element padded array (total work Σ n/2^l < n — cheaper than
    one extra scan)."""
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    arr = d.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))), x -> x.cents)"
        ).alias("a")
    )
    n_pad = 2 ** _HW_LEVELS
    pad = arr.select(
        F.expr(
            f"concat(a, array_repeat(CAST(0 AS BIGINT), {n_pad} - size(a)))"
        ).alias("a")
    )
    lv = pad.select(
        F.expr(
            f"""
aggregate(sequence(1, {_HW_LEVELS}),
  array(struct(a AS arr, CAST(0.0 AS DOUBLE) AS en, CAST(0 AS BIGINT) AS nc)),
  (acc, unused) -> concat(acc, array(struct(
    transform(sequence(1, size(element_at(acc, -1).arr) DIV 2),
      i -> element_at(element_at(acc, -1).arr, CAST(2*i-1 AS INT))
           + element_at(element_at(acc, -1).arr, CAST(2*i AS INT))) AS arr,
    aggregate(transform(sequence(1, size(element_at(acc, -1).arr) DIV 2),
      i -> CAST(element_at(element_at(acc, -1).arr, CAST(2*i-1 AS INT))
            - element_at(element_at(acc, -1).arr, CAST(2*i AS INT)) AS DOUBLE)
           * CAST(element_at(element_at(acc, -1).arr, CAST(2*i-1 AS INT))
              - element_at(element_at(acc, -1).arr, CAST(2*i AS INT)) AS DOUBLE)),
      CAST(0.0 AS DOUBLE), (s, x) -> s + x) AS en,
    CAST(size(element_at(acc, -1).arr) DIV 2 AS BIGINT) AS nc))))
""".strip()
        ).alias("st")
    )
    lvl = spark.range(1, _HW_LEVELS + 1).select(F.col("id").alias("i"))
    return lv.crossJoin(F.broadcast(lvl)).select(
        F.col("i").cast("int").alias("level"),
        F.expr("element_at(st, CAST(i + 1 AS INT)).nc").alias("n_coeffs"),
        (
            F.expr("element_at(st, CAST(i + 1 AS INT)).en")
            / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) AS DOUBLE)")
        ).alias("detail_energy"),
    )

# ---------------------------------------------------------------------------
# top event paths (3-step sequential patterns)
# ---------------------------------------------------------------------------

_EP_TOP = 20


@query(
    "event_path_trigrams",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
p AS (
  SELECT event_type AS e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
  FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT CAST(sum(n_paths) AS BIGINT) AS n FROM p)
SELECT e1, e2, e3, n_paths,
       CAST(n_paths AS DOUBLE) / tot.n AS path_share
FROM p CROSS JOIN tot
ORDER BY n_paths DESC, e1, e2, e3 LIMIT {_EP_TOP}
""",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} three-step user paths (the sequential-pattern summary one
    level above the first-order picture): consecutive event-type
    triples within each user's ts-ordered stream, ranked by frequency
    with each path's share of all 3-step paths — the "what journeys
    actually happen" view that the transition MATRIX
    (event_transition_matrix) cannot give, because a Markov chain's
    step-by-step products erase second-order structure (a high
    view→click and click→purchase does not imply the full
    view→click→purchase journey is common; the FIXED funnel query
    checks one hypothesis, this ranks all of them).

    Cross-engine determinism: ordering ties break by event_id; counts
    are exact; the share is one IEEE division; the top-{k} breaks ties
    by the path itself.

    Scale: per-user windows (never global), map-side triple extraction,
    a |types|³-bounded groupBy, TakeOrdered top-{k}.""".format(k=_EP_TOP)
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    p = s.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths")
    )
    tot = p.agg(F.sum("n_paths").cast("long").alias("n"))
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            "e1",
            "e2",
            "e3",
            "n_paths",
            (F.col("n_paths").cast("double") / F.col("n")).alias("path_share"),
        )
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(_EP_TOP)
    )

# ---------------------------------------------------------------------------
# Chao1 / Good-Turing vocabulary estimation
# ---------------------------------------------------------------------------


@query(
    "vocab_chao1_estimate",
    oracle=f"""
WITH tok AS (
  SELECT u AS w FROM (SELECT unnest({ALPHA_TOKS_D}) AS u FROM documents)),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
fof AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab_observed,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq)
SELECT n_tokens, vocab_observed, f1, f2,
       vocab_observed
         + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1)) AS chao1_estimate,
       1.0 - CAST(f1 AS DOUBLE) / n_tokens AS good_turing_coverage
FROM fof
""",
)
def vocab_chao1_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-species vocabulary estimation (Chao 1984, bias-corrected
    form; Good-Turing 1953 coverage): from the token
    frequency-of-frequencies alone — V observed types, f1 singletons,
    f2 doubletons — estimate the TRUE vocabulary size
    Chao1 = V + f1(f1−1)/(2(f2+1)) and the sample coverage
    C = 1 − f1/N (the probability the next token is an already-seen
    type). This is the sampling-side answer to "how many distinct
    values exist" that the sketch shelf (KMV/HLL) cannot give: sketches
    estimate the distinct count OF THE DATA SCANNED; Chao1 extrapolates
    BEYOND it — the estimator a 100 TB pipeline runs on a 0.1% sample
    to budget vocabulary-bounded structures (BPE vocab tables, hash
    sizes, dictionary encodings) before paying for the full pass.

    Exactness: every input is an exact BIGINT count; the two reported
    estimates are single divisions of exact-integer products (the
    bias-corrected +1 denominator also removes the f2=0 edge case).

    Scale: one token-stream groupBy (vocabulary-bounded output) and one
    4-number aggregate over it — strictly cheaper than any query that
    touches the vocabulary at all."""
    tok = load(spark, sf_dir, "documents").select(
        F.explode(F.expr(ALPHA_TOKS_S)).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    fof = freq.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_observed"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return fof.select(
        "n_tokens",
        "vocab_observed",
        "f1",
        "f2",
        (
            F.col("vocab_observed")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (2 * (F.col("f2") + 1))
        ).alias("chao1_estimate"),
        (
            F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens")
        ).alias("good_turing_coverage"),
    )

# ---------------------------------------------------------------------------
# Hurst exponent (rescaled-range analysis)
# ---------------------------------------------------------------------------

_HU_WINDOWS = [16, 32, 64, 128, 256]

# per-block R/S over a BIGINT slice `blk` of width w (daily dollars):
# cumulative deviations stay exact via w*prefix - k*total; the only
# doubles are the final range/std divisions and sqrt (IEEE
# correctly-rounded => identical both engines).
_HU_BLOCK_S = """
aggregate(sequence(0, CAST(size(a) DIV {w} AS INT) - 1),
  CAST(0.0 AS DOUBLE),
  (s, b) -> s + (
    (CAST(aggregate(sequence(1, {w}), CAST(-9223372036854775808 AS BIGINT),
        (mx, k) -> greatest(mx,
          {w} * aggregate(slice(a, b * {w} + 1, CAST(k AS INT)),
                          CAST(0 AS BIGINT), (p, x) -> p + x)
          - k * aggregate(slice(a, b * {w} + 1, {w}),
                          CAST(0 AS BIGINT), (p, x) -> p + x))) AS DOUBLE)
     - CAST(aggregate(sequence(1, {w}), CAST(9223372036854775807 AS BIGINT),
        (mn, k) -> least(mn,
          {w} * aggregate(slice(a, b * {w} + 1, CAST(k AS INT)),
                          CAST(0 AS BIGINT), (p, x) -> p + x)
          - k * aggregate(slice(a, b * {w} + 1, {w}),
                          CAST(0 AS BIGINT), (p, x) -> p + x))) AS DOUBLE))
    / CAST({w} AS DOUBLE)
    / sqrt((CAST(aggregate(slice(a, b * {w} + 1, {w}), CAST(0 AS BIGINT),
                 (p, x) -> p + x * x) AS DOUBLE)
            - CAST(aggregate(slice(a, b * {w} + 1, {w}), CAST(0 AS BIGINT),
                   (p, x) -> p + x) AS DOUBLE)
              * CAST(aggregate(slice(a, b * {w} + 1, {w}), CAST(0 AS BIGINT),
                     (p, x) -> p + x) AS DOUBLE) / {w}) / {w}))
  , s -> s / CAST(size(a) DIV {w} AS DOUBLE))
""".strip()

_HU_BLOCK_D = """
list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
  list_transform(range(0, len(a) // {w}),
    b -> (
      (CAST(list_reduce(list_prepend(CAST(-9223372036854775808 AS BIGINT),
          list_transform(range(1, {w} + 1),
            k -> {w} * list_aggregate(a[b * {w} + 1 : b * {w} + k], 'sum')
                 - k * list_aggregate(a[b * {w} + 1 : b * {w} + {w}], 'sum'))),
          (mx, z) -> greatest(mx, z)) AS DOUBLE)
       - CAST(list_reduce(list_prepend(CAST(9223372036854775807 AS BIGINT),
          list_transform(range(1, {w} + 1),
            k -> {w} * list_aggregate(a[b * {w} + 1 : b * {w} + k], 'sum')
                 - k * list_aggregate(a[b * {w} + 1 : b * {w} + {w}], 'sum'))),
          (mn, z) -> least(mn, z)) AS DOUBLE))
      / CAST({w} AS DOUBLE)
      / sqrt((CAST(list_aggregate(list_transform(
                a[b * {w} + 1 : b * {w} + {w}], x -> x * x), 'sum') AS DOUBLE)
              - CAST(list_aggregate(a[b * {w} + 1 : b * {w} + {w}], 'sum')
                     AS DOUBLE)
                * CAST(list_aggregate(a[b * {w} + 1 : b * {w} + {w}], 'sum')
                       AS DOUBLE) / {w}) / {w})))),
  (s, x) -> s + x) / CAST(len(a) // {w} AS DOUBLE)
""".strip()


def _hurst_slope(xs: list[int]) -> str:
    """OLS slope literal over (log2 w, y_i) with y_i bound as columns
    y0..y4 in nano units — identical closed form in both engines."""
    n = len(xs)
    xbar = sum(xs) / n
    sxx = sum((x - xbar) ** 2 for x in xs)
    terms = " + ".join(
        f"({x} - {xbar}) * (y{i} / 1e9)" for i, x in enumerate(xs)
    )
    return f"({terms}) / {sxx}"


@query(
    "hurst_rs_exponent",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS BIGINT)
           AS dollars
  FROM orders GROUP BY 1),
arr AS (
  SELECT list_transform(list_sort(list({{'day': day, 'v': dollars}})),
                        x -> x.v) AS a
  FROM d),
rs AS (
  SELECT len(a) AS n_days,
         {", ".join(f"({_HU_BLOCK_D.format(w=w)}) AS rs_{w}" for w in _HU_WINDOWS)}
  FROM arr),
lg AS (
  SELECT n_days,
         {", ".join(f"rs_{w}" for w in _HU_WINDOWS)},
         {", ".join(f"CAST(round(log2(rs_{w}) * 1e9) AS BIGINT) AS y{i}"
                    for i, w in enumerate(_HU_WINDOWS))}
  FROM rs),
wd AS (SELECT unnest([{", ".join(str(w) for w in _HU_WINDOWS)}]) AS window_w)
SELECT CAST(wd.window_w AS INT) AS window_w,
       CAST(lg.n_days // wd.window_w AS BIGINT) AS n_blocks,
       CASE {" ".join(f"WHEN wd.window_w = {w} THEN rs_{w}" for w in _HU_WINDOWS)}
       END AS rs_mean,
       CASE {" ".join(f"WHEN wd.window_w = {w} THEN y{i}"
                      for i, w in enumerate(_HU_WINDOWS))}
       END AS log2_rs_nanos,
       {_hurst_slope([4, 5, 6, 7, 8])} AS hurst
FROM lg, wd
""",
)
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
    & Wallis 1969): for block sizes w in {ws}, partition the daily
    revenue series into floor(n/w) blocks, compute each block's
    R/S (range of mean-adjusted cumulative deviations over the block
    std), and fit log2(mean R/S) against log2(w) — slope H ≈ 0.5 is a
    memoryless walk, H > 0.5 persistent long-memory, H < 0.5
    mean-reverting. The long-memory diagnostic that completes the
    serial-structure shelf: the ACF sees fixed lags, the wavelet ladder
    sees timescale energy, H sees the SCALING LAW across all of them.

    Determinism: daily dollars are exact BIGINT; inside each block the
    cumulative deviations stay exact integers via w·prefix_k − k·total
    (no mean subtraction in floats), so R is an exact-integer range;
    the variance numerator w·Σx² − T² folds in exact integers too
    (dollars keep it inside int64 where cents would overflow — headroom
    bound: w=256 needs d^2*256 < 2^63, i.e. daily dollars < ~1.9e8;
    beyond that Spark's non-ANSI BIGINT fold wraps silently while
    DuckDB promotes to HUGEINT, so re-derive the fold in DECIMAL on
    both engines before scaling past that bound); the only
    doubles are two divisions and one sqrt per block (IEEE
    correctly-rounded — identical engines) and the ordered block-mean
    fold. log2 (libm, last-ULP engine-dependent) is rounded ONCE into
    nanos per window, and the Hurst slope is a closed-form OLS literal
    over those exact nano integers.

    Scale: the corpus collapses map-side to the date-domain-bounded
    daily frame; the whole analysis is ONE in-row pass over that
    bounded array (the prefix recomputation is O(w) per step = O(n·w)
    total ≈ 1M integer ops — noise next to a single scan).""".format(
        ws=_HU_WINDOWS
    )
    o = load(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 0)
        .cast("long")
        .alias("dollars")
    )
    arr = d.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, dollars))),"
            " x -> x.dollars)"
        ).alias("a")
    )
    rs = arr.select(
        F.size("a").cast("long").alias("n_days"),
        *[
            F.expr(_HU_BLOCK_S.format(w=w)).alias(f"rs_{w}")
            for w in _HU_WINDOWS
        ],
    )
    lg = rs.select(
        "n_days",
        *[F.col(f"rs_{w}") for w in _HU_WINDOWS],
        *[
            F.round(F.log2(f"rs_{w}") * F.lit(1e9), 0)
            .cast("long")
            .alias(f"y{i}")
            for i, w in enumerate(_HU_WINDOWS)
        ],
    )
    wd = spark.range(len(_HU_WINDOWS)).select(
        F.explode(F.array(*[F.lit(w) for w in _HU_WINDOWS])).alias("window_w")
    ).distinct()
    rs_case = F.coalesce(
        *[
            F.when(F.col("window_w") == w, F.col(f"rs_{w}"))
            for w in _HU_WINDOWS
        ]
    )
    y_case = F.coalesce(
        *[
            F.when(F.col("window_w") == w, F.col(f"y{i}"))
            for i, w in enumerate(_HU_WINDOWS)
        ]
    )
    return lg.crossJoin(F.broadcast(wd)).select(
        F.col("window_w").cast("int").alias("window_w"),
        F.expr("n_days DIV window_w").cast("long").alias("n_blocks"),
        rs_case.alias("rs_mean"),
        y_case.alias("log2_rs_nanos"),
        F.expr(_hurst_slope([4, 5, 6, 7, 8])).alias("hurst"),
    )
