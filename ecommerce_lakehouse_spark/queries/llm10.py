"""LLM training-data pipeline, phase 10 (round 6) — the operators the
r05 verdict named as the highest-value residual gaps, plus their
natural completions:

- ``kll_quantile_sketch``: the quantile member of the sketch shelf
  (KMV distinct / HLL / CMS frequency already exist), built on the
  history-independent KLL-family level sketch in operators/sketch.py and
  reporting its own rank error at three quantiles (streaming twin:
  streaming/jobs.py::stream_kll_quantiles);
- ``quality_classifier_scores``: the learned (CCNet/fastText-shape)
  quality filter — a hashed-n-gram Naive-Bayes linear scorer trained as a
  query on the corpus's own hash split, weights as exact-integer nanos,
  audited as a held-out confusion matrix;
- ``ivf_pq_search_recall``: IVF cells (embedding_ivf_ann) composed with
  PQ codebooks (pq_encode_eval) into asymmetric-distance-computation
  search — the billion-vector serving shape — with recall@5 against the
  exact top-k and the candidate count reported (no silent cap);
- ``shingle_containment_pairs``: the DIRECTED dedup signal (doc inside
  doc) symmetric Jaccard misses, via a one-sided AllPairs prefix index;
- ``pq_trained_codebook_eval``: k-means-trained PQ codebooks vs the
  hash-sampled baseline — the pay-for-training decision audit.

Reference parity: none of these exist in the reference (its Python
surface is Glue ETL over business keys, src/processing/*.py); they are
the training-data-pipeline extensions the engine adds as first-class,
oracle-checked components.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.kmeans import (
    assign_nearest,
    collect_seed_vectors,
    lloyd_rounds,
)
from ecommerce_lakehouse_spark.operators.scale import iter_barrier
from ecommerce_lakehouse_spark.operators.sketch import (
    kll_level_sketch,
    md5_hash60,
)
from ecommerce_lakehouse_spark.operators.text import ALPHA_TOKS_D, ALPHA_TOKS_S
from ecommerce_lakehouse_spark.queries import TINY_STAGE_CONFS, query
from ecommerce_lakehouse_spark.tables import load

# ---------------------------------------------------------------------------
# KLL-family quantile sketch with rank-error audit
# ---------------------------------------------------------------------------

_KLL_K = 1024
_KLL_QS = [0.5, 0.9, 0.99]


@query(
    "kll_quantile_sketch",
    oracle=f"""
WITH src AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM src),
lvl AS (
  SELECT n_total, CAST(min(l) AS INT) AS level
  FROM tot, (SELECT unnest(range(0, 41)) AS l)
  WHERE {_KLL_K} * (CAST(1 AS BIGINT) << l) >= n_total
  GROUP BY n_total),
thr AS (
  SELECT n_total, level,
         1152921504606846976 // (CAST(1 AS BIGINT) << level) AS threshold
  FROM lvl),
kept AS (SELECT cents, h FROM src, thr WHERE h < threshold),
sk AS (
  SELECT list_sort(list(struct_pack(v := cents, h := h))) AS items,
         CAST(count(*) AS BIGINT) AS m_kept
  FROM kept),
qs AS (SELECT unnest([{", ".join(str(q) for q in _KLL_QS)}]) AS q),
est AS (
  SELECT q, m_kept,
         items[CAST(ceil(q * m_kept) AS BIGINT)].v AS est_cents
  FROM qs, sk)
SELECT e.q,
       t.n_total,
       t.level,
       e.m_kept,
       CAST(e.est_cents AS DOUBLE) / 100.0 AS est_value,
       CAST(sum(CASE WHEN s.cents <= e.est_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS count_le,
       round(abs(sum(CASE WHEN s.cents <= e.est_cents THEN 1 ELSE 0 END)
                 / CAST(t.n_total AS DOUBLE) - e.q), 9) AS rank_err
FROM src s CROSS JOIN est e CROSS JOIN thr t
GROUP BY e.q, t.n_total, t.level, e.m_kept, e.est_cents
""",
)
def kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with its own accuracy audit (the pattern
    of kmv_distinct_sketch): build the KLL-family level sketch
    (operators/sketch.py — geometric levels, survival decided by each
    item's md5 bits so both engines, any partitioning, and any merge
    order produce the SAME state) over the events value column in exact
    cents, answer q in {0.5, 0.9, 0.99} from the sketch, then report the
    estimate's TRUE rank error against the full data — the number a
    100 TB profiling pass publishes instead of a silent approximation.

    Quantile answering: the sketch's survivors are equal-weight
    (2^level rows each), so the q-quantile estimate is simply the
    survivor at rank ceil(q·m) of the sorted O(k) item array — an
    element_at on the aggregate value, no window, no second pass. The
    audit rank (count of rows <= estimate) is one conditional aggregate
    over the source.

    Exactness: values are 2dp-quantized event values carried as BIGINT
    cents (llm8 idiom); hashes/levels/thresholds are integer; the only
    doubles are ceil(q·m) (identical IEEE multiply both engines) and the
    final unit/error renders (exact-integer divisions).

    Scale: count + map-side filter + O(k) collect — the sketch never
    shuffles more than k items; the audit pass is a broadcast of 3
    estimate rows against the scan. Mergeability (union of
    per-partition sketches ≡ whole-data sketch, bit-identical) is the
    operator contract, tested in tests/test_llm10.py."""
    src = load(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        md5_hash60(F.col("event_id")).alias("h"),
    )
    sk = kll_level_sketch(src, "cents", "h", k=_KLL_K)
    # one row: (n, level, items); m_kept = size(items)
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _KLL_QS])).alias("q")
    )
    est = qs.crossJoin(F.broadcast(sk)).select(
        "q",
        F.col("n").alias("n_total"),
        "level",
        F.size("items").cast("long").alias("m_kept"),
        F.expr(
            "element_at(items, CAST(ceil(q * size(items)) AS INT)).v"
        ).alias("est_cents"),
    )
    return (
        src.crossJoin(F.broadcast(est))
        .groupBy("q", "n_total", "level", "m_kept", "est_cents")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("count_le")
        )
        .select(
            "q",
            "n_total",
            "level",
            "m_kept",
            (F.col("est_cents").cast("double") / F.lit(100.0)).alias("est_value"),
            "count_le",
            F.round(
                F.abs(
                    F.col("count_le") / F.col("n_total").cast("double")
                    - F.col("q")
                ),
                9,
            ).alias("rank_err"),
        )
    )


# ---------------------------------------------------------------------------
# learned quality classifier (CCNet/fastText shape)
# ---------------------------------------------------------------------------

_QC_B = 256  # hashed feature buckets
_QC_TRAIN_PCT = 80  # same deterministic split rule as bigram_lm_score


# shared CTE chain: everything through per-doc held-out scores (reused by
# the confusion-matrix query and the calibration curve)
_QC_CTE = rf"""
WITH d AS (
  SELECT doc_id, {ALPHA_TOKS_D} AS t,
         len(string_split_regex(trim(text), '\s+')) BETWEEN 50 AND 100000 AS pos,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           < {_QC_TRAIN_PCT} AS is_train
  FROM documents),
grams AS (
  SELECT doc_id, pos, is_train, unnest(t) AS g FROM d
  UNION ALL
  SELECT doc_id, pos, is_train,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
  FROM d WHERE len(t) >= 2),
pres AS (
  SELECT DISTINCT doc_id, pos, is_train,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % {_QC_B} AS b
  FROM grams),
ndoc AS (
  SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nneg
  FROM d WHERE is_train),
dcnt AS (
  SELECT b,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS dpos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS dneg
  FROM pres WHERE is_train GROUP BY 1),
w AS (
  SELECT bk.b,
         CAST(round((log2(CAST(COALESCE(dcnt.dpos, 0) + 1 AS DOUBLE) / (npos + 2))
                   - log2(CAST(COALESCE(dcnt.dneg, 0) + 1 AS DOUBLE) / (nneg + 2)))
               * 1e9) AS BIGINT) AS wp,
         CAST(round((log2(CAST(npos - COALESCE(dcnt.dpos, 0) + 1 AS DOUBLE) / (npos + 2))
                   - log2(CAST(nneg - COALESCE(dcnt.dneg, 0) + 1 AS DOUBLE) / (nneg + 2)))
               * 1e9) AS BIGINT) AS wa
  FROM (SELECT unnest(range(0, {_QC_B})) AS b) bk
  LEFT JOIN dcnt ON bk.b = dcnt.b CROSS JOIN ndoc),
consts AS (SELECT CAST(sum(wa) AS BIGINT) AS s_absent FROM w),
prior AS (
  SELECT CAST(round(log2(CAST(npos + 1 AS DOUBLE) / (nneg + 1)) * 1e9) AS BIGINT)
    AS b0 FROM ndoc),
ds AS (
  SELECT doc_id, CAST(sum(w.wp - w.wa) AS BIGINT) AS s
  FROM pres JOIN w USING (b) GROUP BY 1),
test AS (
  SELECT d.doc_id,
         CASE WHEN d.pos THEN 'pass' ELSE 'fail' END AS label,
         COALESCE(ds.s, 0) + prior.b0 + consts.s_absent AS score
  FROM d LEFT JOIN ds USING (doc_id) CROSS JOIN prior CROSS JOIN consts
  WHERE NOT d.is_train)
"""


@query(
    "quality_classifier_scores",
    oracle=_QC_CTE
    + """
SELECT label,
       CASE WHEN score > 0 THEN 'pass' ELSE 'fail' END AS predicted,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score) AS BIGINT) AS sum_score_nanos
FROM test GROUP BY 1, 2
""",
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (the CCNet/DCLM distillation shape): train
    a Bernoulli Naive-Bayes linear scorer over hashed n-gram PRESENCE
    features to imitate the Gopher word-count gate (the expensive
    rule-based filter), on the corpus's own deterministic hash split —
    then audit the held-out confusion matrix, which is the number that
    decides whether the cheap model may replace the rule at 100 TB.

    Model choice is load-bearing: a multinomial NB over hashed COUNTS
    carries no document-length signal (per-gram class distributions are
    nearly identical here, and the length term cancels in the
    normalization — measured ~50% held-out accuracy, chance), while
    Bernoulli NB's absent-feature terms make the score monotone in how
    many buckets a document touches — 96-99% held-out accuracy on the
    same split. The scorer stays linear: score = b0 + Σ_absent wa +
    Σ_present (wp − wa), i.e. one broadcast join on present buckets plus
    two scalar constants.

    Cross-engine exactness (the trigram_backoff_scores discipline): all
    counts are exact integers; each weight is one log2 of an
    exact-integer ratio rounded once into BIGINT nanos; per-doc scores
    are BIGINT sums of those nanos — no float association order exists
    anywhere.

    Scale: training is a 256-bucket groupBy (fixed width at any corpus
    size) + one 1-row doc-count agg; scoring joins each doc's distinct
    buckets against the broadcast 256-row weight table; the audit is a
    4-cell groupBy. No per-row Python."""
    return _qc_test_scores(spark, sf_dir).groupBy(
        "label",
        F.when(F.col("score") > 0, "pass").otherwise("fail").alias("predicted"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score").cast("long").alias("sum_score_nanos"),
    )


def _qc_test_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out per-doc scores (doc_id, label, score) — the shared body
    of the confusion-matrix and calibration queries."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(ALPHA_TOKS_S).alias("t"),
        F.size(F.split(F.trim("text"), r"\s+")).between(50, 100000).alias("pos"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 100
            < _QC_TRAIN_PCT
        ).alias("is_train"),
    )
    d = d.localCheckpoint(eager=False)
    uni = d.select("doc_id", "pos", "is_train", F.explode("t").alias("g"))
    bi = d.filter(F.size("t") >= 2).select(
        "doc_id",
        "pos",
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("g"),
    )
    pres = (
        uni.unionByName(bi)
        .select(
            "doc_id",
            "pos",
            "is_train",
            (
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
                % _QC_B
            ).alias("b"),
        )
        .distinct()
    )
    # reuse barriers: d feeds four branches (unigrams, bigrams, the
    # train doc counts, the held-out spine) and pres feeds two (bucket
    # training counts + scoring) — cache instead of re-tokenizing
    pres = pres.localCheckpoint(eager=False)
    ndoc = d.filter("is_train").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("npos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("long").alias("nneg"),
    )
    dcnt = (
        pres.filter("is_train")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("dpos"),
            F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("long").alias("dneg"),
        )
    )
    bk = spark.range(0, _QC_B).select(F.col("id").cast("long").alias("b"))
    nano = F.lit(1000000000.0)
    w = (
        bk.join(F.broadcast(dcnt), on="b", how="left")
        .crossJoin(F.broadcast(ndoc))
        .select(
            "b",
            F.round(
                (
                    F.log2(
                        (F.coalesce("dpos", F.lit(0)) + 1).cast("double")
                        / (F.col("npos") + 2)
                    )
                    - F.log2(
                        (F.coalesce("dneg", F.lit(0)) + 1).cast("double")
                        / (F.col("nneg") + 2)
                    )
                )
                * nano,
                0,
            )
            .cast("long")
            .alias("wp"),
            F.round(
                (
                    F.log2(
                        (F.col("npos") - F.coalesce("dpos", F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("npos") + 2)
                    )
                    - F.log2(
                        (F.col("nneg") - F.coalesce("dneg", F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("nneg") + 2)
                    )
                )
                * nano,
                0,
            )
            .cast("long")
            .alias("wa"),
        )
    )
    consts = w.agg(F.sum("wa").cast("long").alias("s_absent"))
    prior = ndoc.select(
        F.round(
            F.log2((F.col("npos") + 1).cast("double") / (F.col("nneg") + 1)) * nano,
            0,
        )
        .cast("long")
        .alias("b0")
    )
    ds = (
        pres.join(F.broadcast(w), on="b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("wp") - F.col("wa")).cast("long").alias("s"))
    )
    return (
        d.filter(~F.col("is_train"))
        .select("doc_id", "pos")
        .join(ds, on="doc_id", how="left")
        .crossJoin(F.broadcast(prior))
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.when(F.col("pos"), "pass").otherwise("fail").alias("label"),
            (
                F.coalesce("s", F.lit(0)) + F.col("b0") + F.col("s_absent")
            ).alias("score"),
        )
    )


@query(
    "classifier_calibration_curve",
    oracle=_QC_CTE
    + """
SELECT CAST(least(greatest(CAST(floor(score / 2000000000.0) AS BIGINT), -5), 5)
            AS INT) AS score_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN label = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       sum(CASE WHEN label = 'pass' THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
         AS pass_rate,
       CAST(sum(score) AS BIGINT) AS sum_score_nanos
FROM test GROUP BY 1
""",
)
def classifier_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the learned quality classifier: held-out
    docs bucketed by score (2-bit-per-bucket nano-units, clamped to
    [-5, 5]) against the observed positive rate per bucket — the
    reliability diagram that decides WHERE to put the production
    threshold (the confusion matrix answers only threshold 0) and
    whether scores can be trusted as sampling weights. A monotone
    pass_rate across buckets is what "the score means something" looks
    like; flat noise means retrain.

    Exactness: the bucket edge is floor on an exact-integer/literal
    double division (identical both engines — integer DIV would FLOOR
    in DuckDB but TRUNCATE in Spark on negative scores, so the double
    floor form is the portable one); counts and rate divisions are
    exact integers.

    Scale: reuses the classifier's shared scoring body (one broadcast
    weight join); the curve is an <=11-group aggregate."""
    t = _qc_test_scores(spark, sf_dir)
    bucket = (
        F.least(
            F.greatest(
                F.floor(F.col("score") / F.lit(2000000000.0)).cast("long"),
                F.lit(-5).cast("long"),
            ),
            F.lit(5).cast("long"),
        )
    ).cast("int")
    return t.groupBy(bucket.alias("score_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("label") == "pass", 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        (
            F.sum(F.when(F.col("label") == "pass", 1).otherwise(0))
            / F.count(F.lit(1)).cast("double")
        ).alias("pass_rate"),
        F.sum("score").cast("long").alias("sum_score_nanos"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance search with recall audit
# ---------------------------------------------------------------------------

_IP_K = 16  # coarse cells (= embedding_ivf_ann's codebook size)
_IP_NPROBE = 2  # probed cells per query
_IP_M = 8  # PQ subspaces (= pq_encode_eval's layout: 8 x 8 dims)
_IP_CW = 16  # PQ codewords per subspace
_IP_SHORT = 20  # ADC shortlist re-ranked exactly
_IP_TOPK = 5  # reported top-k / recall@k
_IP_NQ = 10  # query vectors (vec_id < 10, embedding_ivf_ann's set)

# squared-L2 over a slice [k*8+1, k*8+8] of two 64-dim arrays (in-row
# positional fold — bit-identical doubles in both engines)
_IP_SUBD = (
    "aggregate(zip_with(slice({a}, CAST(k * 8 + 1 AS INT), 8),"
    " slice({b}, CAST(k * 8 + 1 AS INT), 8),"
    " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
)
_IP_FULLD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0D, (acc, x) -> acc + x)"
)


@query(
    "ivf_pq_search_recall",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cent AS (SELECT vec_id AS cid, emb AS cemb FROM v WHERE vec_id < {_IP_K}),
asgd AS (
  SELECT v.vec_id, v.emb, c.cid,
         list_aggregate(list_transform(range(1, 65),
             i -> (v.emb[i] - c.cemb[i]) * (v.emb[i] - c.cemb[i])), 'sum') AS d2
  FROM v CROSS JOIN cent c),
asg AS (
  SELECT vec_id, min(struct_pack(d := d2, cid := cid)).cid AS cell
  FROM asgd GROUP BY vec_id),
qprobe AS (
  SELECT vec_id AS query_id, cid AS probe_cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM asgd WHERE vec_id < {_IP_NQ}) WHERE rn <= {_IP_NPROBE}),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < {_IP_NQ}),
samp AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                 vec_id) AS BIGINT) AS sid,
         emb AS s_emb
  FROM v QUALIFY sid <= {_IP_CW}),
sub AS (SELECT unnest(range(0, {_IP_M})) AS k),
codes AS (
  SELECT vec_id, k, min(struct_pack(d := dist, sid := sid)).sid AS sid FROM (
    SELECT v.vec_id, sub.k, samp.sid,
           list_aggregate(list_transform(range(1, 9),
               i -> (v.emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])
                    * (v.emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])),
               'sum') AS dist
    FROM v CROSS JOIN sub CROSS JOIN samp) GROUP BY 1, 2),
dtab AS (
  SELECT q.query_id, sub.k, samp.sid,
         CAST(floor(list_aggregate(list_transform(range(1, 9),
             i -> (q.q_emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])
                  * (q.q_emb[sub.k * 8 + i] - samp.s_emb[sub.k * 8 + i])),
             'sum') * 1e12) AS BIGINT) AS dp
  FROM q CROSS JOIN sub CROSS JOIN samp),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS nb
  FROM qprobe p JOIN asg a ON a.cell = p.probe_cell AND a.vec_id <> p.query_id),
ncand AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
          FROM cand GROUP BY 1),
adc AS (
  SELECT c.query_id, c.nb, CAST(sum(d.dp) AS BIGINT) AS adp
  FROM cand c JOIN codes co ON co.vec_id = c.nb
  JOIN dtab d ON d.query_id = c.query_id AND d.k = co.k AND d.sid = co.sid
  GROUP BY 1, 2),
short AS (
  SELECT query_id, nb, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adp ASC, nb ASC) AS rn
    FROM adc) WHERE rn <= {_IP_SHORT}),
refined AS (
  SELECT query_id, nb FROM (
    SELECT s.query_id, s.nb,
           row_number() OVER (PARTITION BY s.query_id ORDER BY
             list_aggregate(list_transform(range(1, 65),
                 i -> (q.q_emb[i] - v.emb[i]) * (q.q_emb[i] - v.emb[i])),
                 'sum') ASC, s.nb ASC) AS rn
    FROM short s JOIN q USING (query_id) JOIN v ON v.vec_id = s.nb)
  WHERE rn <= {_IP_TOPK}),
exactd AS (
  SELECT q.query_id, v.vec_id AS nb,
         list_aggregate(list_transform(range(1, 65),
             i -> (q.q_emb[i] - v.emb[i]) * (q.q_emb[i] - v.emb[i])),
             'sum') AS d2
  FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id),
ex5 AS (
  SELECT query_id, nb FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY d2 ASC, nb ASC) AS rn
    FROM exactd) WHERE rn <= {_IP_TOPK}),
h_adc AS (
  SELECT a.query_id, CAST(count(e.nb) AS BIGINT) AS adc_hits
  FROM (SELECT query_id, nb FROM short WHERE rn <= {_IP_TOPK}) a
  LEFT JOIN ex5 e ON a.query_id = e.query_id AND a.nb = e.nb
  GROUP BY 1),
h_ref AS (
  SELECT r.query_id, CAST(count(e.nb) AS BIGINT) AS refined_hits
  FROM refined r
  LEFT JOIN ex5 e ON r.query_id = e.query_id AND r.nb = e.nb
  GROUP BY 1)
SELECT n.query_id, n.n_candidates, h_adc.adc_hits, h_ref.refined_hits,
       adc_hits / {_IP_TOPK}.0 AS recall_adc,
       refined_hits / {_IP_TOPK}.0 AS recall_refined
FROM ncand n JOIN h_adc USING (query_id) JOIN h_ref USING (query_id)
""",
)
def ivf_pq_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance search (Jégou et al. 2011) — the
    billion-vector serving shape, composed from the two registered
    building blocks: embedding_ivf_ann's coarse cells (16 centroids =
    the first 16 vectors) and pq_encode_eval's codebook (8 subspaces x
    16 hash-sampled codewords). Per query: probe the nprobe=2 nearest
    cells, score every candidate by ADC (sum of precomputed
    query-to-codeword subspace distances — the candidate's own vector is
    never touched), take the 20-deep shortlist, then exactly re-rank the
    shortlist (the refine step every production IVF-PQ deploys). The
    output is the audit: per query, the candidate count (no silent cap)
    and recall@5 vs the exact L2 top-5 for BOTH the raw-ADC and the
    refined top-5 — measured here, refine lifts 0.32 -> 0.68, and that
    gap (PQ quantization error, recoverable by refine) vs the residual
    (cell recall, recoverable only by nprobe) is exactly what this
    query exists to expose before anyone sizes a real index.

    Cross-engine determinism: all distances are in-row positional folds
    on bit-identical doubles; ADC sums floor each subspace entry into
    integer picos BEFORE the BIGINT sum (pq_encode_eval discipline — no
    float association order); every rank breaks ties by neighbor id.

    Scale: cells and codebook are broadcast literals-by-construction;
    code assignment is a 128x map-side fan-out collapsed by partial-agg
    min(struct) (the shape pq_encode_eval's docstring prescribes at
    100 TB); the distance table is queries x 128 rows; candidate scoring
    joins the code table once on vec_id (shuffle bounded by cell sizes,
    the IVF contract); shortlist/refine windows are per-query over
    bounded rows. The exact top-5 is the AUDIT-truth contract (the
    lsh_recall_eval pattern) — production reuses the shortlist path.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = e.filter(F.col("vec_id") < _IP_K).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb")
    )
    carr = cent.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cid"), F.col("cemb")))
        ).alias("carr")
    )
    celldist = (
        "transform(carr, c -> struct("
        + _IP_FULLD.format(a="emb", b="c.cemb")
        + " AS d, c.cid AS cid))"
    )
    # shuffle-free coarse assignment: in-row argmin vs the broadcast
    # centroid array (semantic_cluster_dups idiom)
    asg = (
        e.crossJoin(F.broadcast(carr))
        .withColumn("cell", F.expr(f"array_min({celldist}).cid"))
        .select("vec_id", "emb", "cell")
    )
    qv = e.filter(F.col("vec_id") < _IP_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    qprobe = (
        qv.withColumnRenamed("q_emb", "emb")
        .crossJoin(F.broadcast(carr))
        .select(
            "query_id",
            F.explode(
                F.expr(f"slice(array_sort({celldist}), 1, {_IP_NPROBE})")
            ).alias("pc"),
        )
        .select("query_id", F.col("pc.cid").alias("probe_cell"))
    )
    # PQ codebook: the 16 hash-smallest vectors (pq_encode_eval)
    from pyspark.sql import Window

    samp16 = (
        e.select(F.md5(F.col("vec_id").cast("string")).alias("m"), "vec_id", "emb")
        .orderBy("m", "vec_id")
        .limit(_IP_CW)
    )
    samp = samp16.select(
        F.row_number().over(Window.orderBy("m", "vec_id")).cast("long").alias("sid"),
        F.col("emb").alias("s_emb"),
    )
    sub = spark.range(0, _IP_M).select(F.col("id").alias("k"))
    subd = _IP_SUBD.format(a="emb", b="s_emb")
    codes = (
        e.crossJoin(F.broadcast(sub))
        .crossJoin(F.broadcast(samp))
        .select("vec_id", "k", "sid", F.expr(subd).alias("dist"))
        .groupBy("vec_id", "k")
        .agg(F.min(F.struct("dist", "sid"))["sid"].alias("sid"))
    )
    qsubd = _IP_SUBD.format(a="q_emb", b="s_emb")
    dtab = (
        qv.crossJoin(F.broadcast(sub))
        .crossJoin(F.broadcast(samp))
        .select(
            "query_id",
            "k",
            "sid",
            F.floor(F.expr(qsubd) * F.lit(1e12)).cast("long").alias("dp"),
        )
    )
    cand = (
        qprobe.join(
            asg.select("vec_id", "cell"),
            (F.col("cell") == F.col("probe_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("nb"))
        .distinct()
    )
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    adc = (
        cand.join(codes, cand["nb"] == codes["vec_id"])
        .join(F.broadcast(dtab), on=["query_id", "k", "sid"])
        .groupBy("query_id", "nb")
        .agg(F.sum("dp").cast("long").alias("adp"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adp"), F.asc("nb"))
    short = adc.withColumn("rn", F.row_number().over(w_adc)).filter(
        F.col("rn") <= _IP_SHORT
    )
    fulld = _IP_FULLD.format(a="q_emb", b="emb")
    w_ref = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("nb"))
    refined = (
        short.select("query_id", "nb")
        .join(F.broadcast(qv), on="query_id")
        .join(e, F.col("nb") == e["vec_id"])
        .select("query_id", "nb", F.expr(fulld).alias("d2"))
        .withColumn("rrn", F.row_number().over(w_ref))
        .filter(F.col("rrn") <= _IP_TOPK)
        .select("query_id", "nb")
    )
    ex5 = (
        e.join(F.broadcast(qv), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("nb"), F.expr(fulld).alias("d2")
        )
        .withColumn("ern", F.row_number().over(w_ref))
        .filter(F.col("ern") <= _IP_TOPK)
        .select("query_id", "nb", F.lit(1).alias("hit"))
    )
    h_adc = (
        short.filter(F.col("rn") <= _IP_TOPK)
        .select("query_id", "nb")
        .join(ex5, on=["query_id", "nb"], how="left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("adc_hits"))
    )
    h_ref = (
        refined.join(ex5, on=["query_id", "nb"], how="left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("refined_hits")
        )
    )
    return (
        ncand.join(h_adc, on="query_id")
        .join(h_ref, on="query_id")
        .select(
            "query_id",
            "n_candidates",
            "adc_hits",
            "refined_hits",
            (F.col("adc_hits") / F.lit(float(_IP_TOPK))).alias("recall_adc"),
            (
                F.col("refined_hits") / F.lit(float(_IP_TOPK))
            ).alias("recall_refined"),
        )
    )


# ---------------------------------------------------------------------------
# asymmetric containment join (doc-inside-doc dedup signal)
# ---------------------------------------------------------------------------

_CT_TAU_NUM, _CT_TAU_DEN = 8, 10  # containment threshold 0.8, exact integers


@query(
    "shingle_containment_pairs",
    confs=TINY_STAGE_CONFS,
    oracle=rf"""
WITH canon AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM canon),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM t WHERE len(w) >= 3),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY 1),
ranked AS (
  SELECT ex.doc_id,
         list_sort(list({{'df': df.df, 'shingle': ex.shingle}})) AS rs
  FROM ex JOIN df USING (shingle) GROUP BY 1),
pfx AS (
  SELECT doc_id,
         unnest(list_transform(
             rs[1 : len(rs) - ({_CT_TAU_NUM} * len(rs) + {_CT_TAU_DEN} - 1)
                       // {_CT_TAU_DEN} + 1],
             x -> x.shingle)) AS shingle
  FROM ranked),
cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, ex.doc_id AS doc_b
  FROM pfx p JOIN ex ON p.shingle = ex.shingle AND p.doc_id <> ex.doc_id),
v AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(a.s) AS BIGINT) AS n_a,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b)
SELECT doc_a, doc_b, n_a, n_common,
       n_common / CAST(n_a AS DOUBLE) AS containment
FROM v WHERE n_common * {_CT_TAU_DEN} >= n_a * {_CT_TAU_NUM}
""",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT join at C(A→B) = |A∩B|/|A| >= 0.8 over
    word-3-gram shingle sets — the doc-inside-doc signal Jaccard dedup
    structurally misses: a paragraph quoted whole inside a 10x longer
    page has Jaccard ~0.1 but containment ~1.0, and training-corpus
    builds drop (or down-weight) the contained copy. Complements the
    symmetric exact join (`shingle_similarity_join`, Jaccard >= 0.5)
    with the directional member of the family; pairs are DIRECTED
    (doc_a is the contained side).

    Exactness: the threshold is the integer inequality
    10·|A∩B| >= 8·|A| (never a float compare); the reported containment
    is an exact-integer division both engines render identically.

    Scale (AllPairs prefix lemma, asymmetric form): if C(A→B) >= t then
    A shares one of its first n − ceil(t·n) + 1 rarest shingles
    (global rarity = ascending document frequency) with B — so only
    that ~20% prefix of each doc enters the candidate join, against the
    full inverted index on the other side (the one-sided index is what
    makes containment cheaper than it looks: no second prefix bound
    exists because B's size is unbounded relative to A). Candidates are
    verified with the true intersection. Collapse-first: exact copies
    dedup before shingling, so boilerplate replication cannot inflate
    the candidate set."""
    d = load(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    t = canon.select(
        "doc_id", F.expr(r"split(trim(text), '\\s+')").alias("w")
    ).filter(F.size("w") >= 3)
    sh = t.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(w) - 2),"
            " i -> concat_ws(' ', w[i-1], w[i], w[i+1])))"
        ).alias("s"),
    )
    # reuse barriers (llm7 discipline): sh feeds three branches (the
    # index explode + both verification sides) and ex feeds two (df
    # counts + the candidate join) — without them Catalyst re-runs the
    # tokenize+shingle HOFs per branch (measured ~2x on this query)
    sh = sh.localCheckpoint(eager=False)
    ex = sh.select("doc_id", F.explode("s").alias("shingle"))
    ex = ex.localCheckpoint(eager=False)
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).cast("long").alias("df"))
    ranked = (
        ex.join(dfreq, on="shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("rs")
        )
    )
    pfx = ranked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(slice(rs, 1, size(rs)"
                f" - ({_CT_TAU_NUM} * size(rs) + {_CT_TAU_DEN} - 1)"
                f" DIV {_CT_TAU_DEN} + 1), x -> x.shingle)"
            )
        ).alias("shingle"),
    )
    cand = (
        pfx.alias("p")
        .join(
            ex.alias("e"),
            (F.col("p.shingle") == F.col("e.shingle"))
            & (F.col("p.doc_id") != F.col("e.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    v = (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sa").cast("long").alias("n_a"),
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
        )
    )
    return v.filter(
        F.col("n_common") * _CT_TAU_DEN >= F.col("n_a") * _CT_TAU_NUM
    ).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_common",
        (F.col("n_common") / F.col("n_a").cast("double")).alias("containment"),
    )


# ---------------------------------------------------------------------------
# k-means-trained PQ codebook vs the hash-sampled baseline
# ---------------------------------------------------------------------------

_PT_M = 8  # subspaces (pq_encode_eval layout)
_PT_CW = 16  # codewords per subspace
_PT_ROUNDS = 3  # fixed Lloyd budget, unrolled in the oracle
_PT_U = (
    "list_transform(embedding::DOUBLE[],"
    " x -> CAST(round((x + 1.0) * 1000000) AS BIGINT))"
)
_PT_DIST = (
    "CAST(list_aggregate(list_transform(range(1, 9),"
    " i -> (p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i])), 'sum') AS BIGINT)"
)


def _pt_assign_sql(prev_c: str, name: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, k, sv, cid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, k
                                 ORDER BY dist, cid) AS rn FROM (
      SELECT p.vec_id, p.k, p.sv, c.cid, {_PT_DIST} AS dist
      FROM pts p JOIN {prev_c} c ON p.k = c.k)) WHERE rn = 1)"""


def _pt_update_sql(asg: str, prev_c: str, name: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT p.k, p.cid, COALESCE(n.c, p.c) AS c
  FROM {prev_c} p LEFT JOIN (
    SELECT k, cid, list(comp ORDER BY i) AS c FROM (
      SELECT a.k, a.cid, dims.i,
             CAST((2 * sum(a.sv[dims.i]) + count(*))
                  // (2 * count(*)) AS BIGINT) AS comp
      FROM {asg} a, dims GROUP BY a.k, a.cid, dims.i)
    GROUP BY k, cid) n ON p.k = n.k AND p.cid = n.cid)"""


def _pt_rounds_sql() -> str:
    parts = []
    prev = "c0"
    for r in range(1, _PT_ROUNDS + 1):
        parts.append(_pt_assign_sql(prev, f"a{r}"))
        parts.append(_pt_update_sql(f"a{r}", prev, f"c{r}"))
        prev = f"c{r}"
    parts.append(_pt_assign_sql(prev, "af"))
    return ",\n".join(parts)


@query(
    "pq_trained_codebook_eval",
    oracle=f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, {_PT_U} AS u FROM embeddings),
sub AS (SELECT unnest(range(0, {_PT_M})) AS k),
pts AS MATERIALIZED (
  SELECT vec_id, k, u[k * 8 + 1 : k * 8 + 8] AS sv FROM v, sub),
dims AS (SELECT unnest(range(1, 9)) AS i),
samp AS (
  SELECT CAST(rn AS INT) AS cid, u FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS rn, u
    FROM v) WHERE rn <= {_PT_CW}),
c0 AS MATERIALIZED (
  SELECT k, cid, u[k * 8 + 1 : k * 8 + 8] AS c FROM samp, sub),
{_pt_rounds_sql()},
s0 AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_sub,
              CAST(sum(dist) AS BIGINT) AS e0
       FROM a1 GROUP BY 1),
sf AS (SELECT vec_id, CAST(sum(dist) AS BIGINT) AS ef FROM af GROUP BY 1)
SELECT s0.vec_id, s0.n_sub,
       s0.e0 AS sq_err_sampled,
       sf.ef AS sq_err_trained,
       sf.ef <= s0.e0 AS improved
FROM s0 JOIN sf USING (vec_id)
""",
)
def pq_trained_codebook_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED product-quantization codebooks — closing the loop on
    pq_encode_eval's stated contract ("a trained codebook only lowers
    the reported error"): per subspace, a 16-codeword k-means (3 Lloyd
    rounds) initialized from the SAME hash-sampled vectors the baseline
    codebook uses, so the per-vector error delta is attributable to
    training alone. Output: per-vector reconstruction error under both
    codebooks plus the improved flag — at sf0.01 training improves ~all
    vectors, and the aggregate ratio is the number that decides whether
    to pay the training pass before building a 100 TB PQ index.

    Determinism (the semantic_cluster_dups discipline, applied per
    subspace): vectors quantize ONCE into shifted integer micro-units;
    all Lloyd distances are BIGINT squared-L2; centroid updates are
    exact half-up integer division (2s+n) DIV (2n) (sums non-negative
    by the +1 shift, so floor==trunc across engines); argmin ties break
    by codeword id. Both engines agree to the last digit after any
    number of rounds; the oracle unrolls the same rounds as MATERIALIZED
    CTEs keyed (subspace, cid).

    Scale: the codebook is M x K x 8 bigints (KBs) — control-plane-sized
    by definition, so it lives on the driver and re-enters each round as
    a literal array (the BPE literal-replace pattern). Assignment is
    shuffle-free (in-row array_min against the per-subspace literal
    codeword array); the update aggregates member rows map-side into 9
    combiner cells per (subspace, cid) and collects the M*CW-row result;
    each round is ONE aggregate-collect job. Training cost is R bounded
    aggregates over the corpus — the standard distributed k-means
    shape, M-way parallel across subspaces."""
    e = load(spark, sf_dir, "embeddings")
    u = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round((x + F.lit(1.0)) * 1000000).cast("long"),
    )
    v = e.select("vec_id", u.alias("u")).transform(iter_barrier)
    sub = spark.range(0, _PT_M).select(F.col("id").alias("k"))
    pts = (
        v.crossJoin(F.broadcast(sub))
        .select(
            "vec_id",
            "k",
            F.expr("slice(u, CAST(k * 8 + 1 AS INT), 8)").alias("sv"),
        )
        .transform(iter_barrier)
    )
    # Lloyd loop via operators/kmeans.py: codebook state is
    # control-plane-sized BY DEFINITION (M*CW*8 bigints, a few KB), so
    # init + rounds run as the BPE literal-replace pattern — one
    # aggregate-collect job per round, codebooks re-entering as literal
    # per-subspace arrays — instead of the former per-round broadcast
    # join + codebook join + three eager localCheckpoints (r09 opt —
    # see OPTIMIZATION_r09.md). cid is 1-based (the oracle's
    # row_number); cent[(k, cid)] = subspace k's 8-wide codeword.
    samp_u = collect_seed_vectors(v, "vec_id", "u", _PT_CW)
    cent0 = {
        (k, cid): uu[k * 8 : k * 8 + 8]
        for cid, uu in enumerate(samp_u, start=1)
        for k in range(_PT_M)
    }
    cent = lloyd_rounds(pts, "sv", cent0, _PT_ROUNDS, 8, group_col="k")
    af = assign_nearest(pts, "sv", cent, group_col="k")
    s0 = assign_nearest(pts, "sv", cent0, group_col="k").groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sub"),
        F.sum("dist").cast("long").alias("sq_err_sampled"),
    )
    sf_ = af.groupBy("vec_id").agg(
        F.sum("dist").cast("long").alias("sq_err_trained")
    )
    return s0.join(sf_, on="vec_id").select(
        "vec_id",
        "n_sub",
        "sq_err_sampled",
        "sq_err_trained",
        (F.col("sq_err_trained") <= F.col("sq_err_sampled")).alias("improved"),
    )


# ---------------------------------------------------------------------------
# grouped quantile sketch (per-key KLL)
# ---------------------------------------------------------------------------

_GK_K = 256
_GK_QS = [0.5, 0.9]


@query(
    "grouped_quantile_sketch",
    oracle=f"""
WITH src AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events),
tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1),
lvl AS (
  SELECT event_type, n, CAST(min(l) AS INT) AS level
  FROM tot, (SELECT unnest(range(0, 41)) AS l)
  WHERE {_GK_K} * (CAST(1 AS BIGINT) << l) >= n
  GROUP BY event_type, n),
thr AS (
  SELECT event_type, n, level,
         1152921504606846976 // (CAST(1 AS BIGINT) << level) AS threshold
  FROM lvl),
kept AS (
  SELECT s.event_type, s.cents, s.h
  FROM src s JOIN thr USING (event_type) WHERE s.h < thr.threshold),
sk AS (
  SELECT event_type,
         list_sort(list(struct_pack(v := cents, h := h))) AS items,
         CAST(count(*) AS BIGINT) AS m_kept
  FROM kept GROUP BY 1),
qs AS (SELECT unnest([{", ".join(str(q) for q in _GK_QS)}]) AS q),
est AS (
  SELECT sk.event_type, qs.q, sk.m_kept,
         sk.items[CAST(ceil(qs.q * sk.m_kept) AS BIGINT)].v AS est_cents
  FROM sk CROSS JOIN qs)
SELECT e.event_type, e.q, t.n, t.level, e.m_kept,
       CAST(e.est_cents AS DOUBLE) / 100.0 AS est_value,
       CAST(sum(CASE WHEN s.cents <= e.est_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS count_le,
       round(abs(sum(CASE WHEN s.cents <= e.est_cents THEN 1 ELSE 0 END)
                 / CAST(t.n AS DOUBLE) - e.q), 9) AS rank_err
FROM src s
JOIN est e USING (event_type)
JOIN thr t ON t.event_type = e.event_type
GROUP BY e.event_type, e.q, t.n, t.level, e.m_kept, e.est_cents
""",
)
def grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED form of the quantile sketch — one KLL-family sketch
    PER event type in a single grouped aggregate (the shape a 100 TB
    profiling pass runs: quantiles for every partition/tenant/key at
    once, not one global number): per-type level selection, map-side
    survivor filter, per-type O(k) item arrays, q in {{0.5, 0.9}}
    answered by element_at, and each estimate's true per-type rank
    error reported alongside (the kll_quantile_sketch audit, per key).

    Scale: identical to the global sketch except every stage keys by
    event_type — the level join is |types| x 41 rows, the survivor
    filter joins a broadcast per-type threshold table, and the audit is
    one conditional aggregate keyed (type, q). State is O(k) PER GROUP
    by construction, the property that lets millions of group sketches
    coexist in one shuffle."""
    src = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        md5_hash60(F.col("event_id")).alias("h"),
    )
    sk = kll_level_sketch(
        src, "cents", "h", k=_GK_K, group_cols=["event_type"]
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _GK_QS])).alias("q")
    )
    est = sk.crossJoin(F.broadcast(qs)).select(
        "event_type",
        "q",
        F.col("n"),
        "level",
        F.size("items").cast("long").alias("m_kept"),
        F.expr(
            "element_at(items, CAST(ceil(q * size(items)) AS INT)).v"
        ).alias("est_cents"),
    )
    return (
        src.join(F.broadcast(est), on="event_type")
        .groupBy("event_type", "q", "n", "level", "m_kept", "est_cents")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("count_le")
        )
        .select(
            "event_type",
            "q",
            "n",
            "level",
            "m_kept",
            (F.col("est_cents").cast("double") / F.lit(100.0)).alias("est_value"),
            "count_le",
            F.round(
                F.abs(F.col("count_le") / F.col("n").cast("double") - F.col("q")),
                9,
            ).alias("rank_err"),
        )
    )
