"""End-to-end corpus-curation pipeline (round-2 verdict item #2): the
stage chain a 100 TB training-data build runs — raw → quality gates →
exact-collapse → MinHash band index → near-dup clusters → canonical
survivors → train/val/test split — with every stage MATERIALIZED as a
``LakeTable`` version, so a re-run with a new document batch is
MERGE-incremental (partition-pruned writes, an append-only LSH band
index, and incremental cross-batch exact dedup).

This turns the individually-proven operators (repetition_profile /
pii_scan gates, exact_dedup, minhash_lsh_pairs, neardup_clusters,
train_val_test_split) into the *product* the north star describes: a
restartable, versioned curation DAG over lakehouse tables rather than a
bag of queries.

Incrementality contract (documented, tested in tests/test_curation.py):

- ``quality`` and ``canonical`` are MERGE-upserted per batch — only the
  partitions (languages) present in the batch are rewritten.
- ``band_index`` is append-only: bands are computed for NEW canonical
  texts only and appended; new candidate pairs come from joining the new
  docs' bands against the full index (the standard incremental-LSH
  shape: new ⋈ all, never all ⋈ all again).
- ``doc_id`` is assumed monotone across batches (append-only ingest), so
  a canonical id (min doc_id per content hash) never changes once
  assigned — the band index never goes stale.
- ``clusters`` is INCREMENTAL once seeded: the previous labeling seeds
  min-label propagation, only components adjacent to the batch's new
  docs/pairs re-propagate (prior connectivity compressed to star edges,
  operators/graph.py:incremental_components), and the delta MERGEs over
  the table — untouched components never rewrite. The first batch (no
  seeds) is the global fixpoint; tests assert batch-2 labels equal a
  from-scratch recompute while the recomputed node set stays
  batch-sized.
- ``survivors`` / ``splits`` are derived tables, recomputed from the
  materialized upstream state each run.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.lake import LakeTable
from ecommerce_lakehouse_spark.operators.lsh import (
    MH_BUCKET_CAP,
    MH_EST_THRESHOLD,
    minhash_bands_df,
    minhash_est_jaccard,
    minhash_signatures_df,
)
from ecommerce_lakehouse_spark.operators.text import EMAIL

# quality-gate thresholds (Gopher-style repetition + PII)
MIN_WORDS = 5
MAX_DUP_BIGRAM_RATIO = 0.6

STAGES = ("quality", "canonical", "band_index", "pairs", "clusters", "survivors", "splits")


def _tables(spark: SparkSession, root: str) -> dict[str, LakeTable]:
    return {s: LakeTable(spark, os.path.join(root, s)) for s in STAGES}


def quality_gate(docs: DataFrame) -> DataFrame:
    """Row-local quality gates: length, duplicate-bigram ratio
    (repetition_profile's signal), zero PII emails (pii_scan's signal).
    Materialization barrier before the bigram HOFs — Catalyst inlines
    split() into every element_at reference otherwise (the
    repetition_profile lesson, queries/llm4.py). LAZY (r10): the barrier
    RDD computes inside the first stage's write action and the cached
    blocks serve every later stage — the separate eager job and its
    driver sync were pure fixed cost."""
    base = docs.select(
        "doc_id", "lang", "source", "text",
        F.expr(r"split(trim(text), '\\s+')").alias("w"),
    ).localCheckpoint(eager=False)
    bg = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    dup_ratio = (F.size(bg) - F.size(F.array_distinct(bg))) / F.size(bg).cast("double")
    emails = F.size(F.regexp_extract_all("text", F.lit(EMAIL), F.lit(0)))
    return base.filter(
        (F.size("w") >= MIN_WORDS)
        & (emails == 0)
        & (dup_ratio <= MAX_DUP_BIGRAM_RATIO)
    ).select("doc_id", "lang", "source", "text")


def curate(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    txn: dict | None = None,
) -> dict[str, LakeTable]:
    """Run one batch of documents through the full curation DAG,
    committing each stage as a LakeTable version under ``root``.
    Safe to call repeatedly with new batches (see module docstring for
    the incrementality contract); returns the stage tables. ``txn``
    (Delta txnAppId/txnVersion dict) is recorded on EVERY stage commit,
    and each stage table skips a write whose version it has already
    applied — so an at-least-once replay (streaming foreachBatch) that
    crashed anywhere mid-DAG resumes from the first unapplied stage
    instead of skipping the batch or double-merging it. Stage
    inputs are derived from TABLE STATE (canonical rows not yet in the
    band index; index rows tagged with this batch's version), never
    from in-memory deltas that a crash would lose."""
    t = _tables(spark, root)

    # ---- stage 1: quality gate (MERGE-incremental, partitioned by lang)
    # One output file per partition value (small-file hygiene — the
    # standard pre-write repartition; at larger batch sizes use
    # repartition(n, col) so hot languages still parallelize)
    qual = quality_gate(batch).repartition("lang")
    if t["quality"].exists():
        t["quality"].merge(qual, keys=["doc_id"], txn=txn)
    else:
        # Declare the stage's invariants as table CHECK constraints in the
        # same commit as the data: every later writer (incremental merges
        # included) is rejected at commit time if a bug upstream lets an
        # ungated row through.
        t["quality"].overwrite(
            qual,
            partition_by=["lang"],
            txn=txn,
            constraints={
                "doc_id_present": "doc_id IS NOT NULL",
                "text_present": "text IS NOT NULL AND length(text) > 0",
            },
        )

    # ---- stage 2: exact-collapse (cross-batch incremental on content_hash)
    # Collapse the batch on the fixed-width hash (text never shuffles for
    # the groupBy — it rejoins by slim doc_id), then COMBINE with existing
    # canonical state: matched hashes add multiplicity and keep the min
    # canonical id; new hashes insert. Only the batch's languages rewrite.
    batch_canon = (
        qual.select("doc_id", "lang", "text", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
            # lang can DIFFER among identical texts -> min_by keeps the
            # canonical doc's label deterministically; text is identical
            # across the md5 group, so first() is value-deterministic
            # and skips min_by's per-row string-buffer copies
            F.min_by("lang", "doc_id").alias("lang"),
            F.first("text").alias("text"),
        )
    )
    batch_canon = batch_canon.repartition("lang")
    if t["canonical"].exists():
        existing = t["canonical"].read().select(
            "content_hash",
            F.col("doc_id").alias("e_doc_id"),
            F.col("n_copies").alias("e_copies"),
            F.col("lang").alias("e_lang"),
        )
        delta = (
            batch_canon.join(existing, "content_hash", "left")
            .select(
                "content_hash",
                F.least("doc_id", F.coalesce("e_doc_id", "doc_id")).alias("doc_id"),
                (F.col("n_copies") + F.coalesce("e_copies", F.lit(0))).alias("n_copies"),
                F.when(
                    F.coalesce("e_doc_id", F.col("doc_id")) < F.col("doc_id"),
                    F.col("e_lang"),
                ).otherwise(F.col("lang")).alias("lang"),
                "text",
            )
        )
        t["canonical"].merge(delta, keys=["content_hash"], txn=txn)
    else:
        t["canonical"].overwrite(batch_canon, partition_by=["lang"], txn=txn)

    # ---- stage 3: LSH band index (append-only; new canonical texts only).
    # "New" is derived from TABLE STATE — canonical rows whose doc_id is
    # not yet in the index — not from the in-memory batch delta, so a
    # replay after a crash between the canonical merge and this append
    # still finds the batch's texts. Rows carry the batch version so
    # stage 4 can recover exactly this batch's bands on a later resume.
    canon_now = t["canonical"].read()
    had_index = t["band_index"].exists()
    if had_index:
        indexed = t["band_index"].read().select("doc_id").distinct()
        to_band = canon_now.join(indexed, "doc_id", "left_anti")
    else:
        to_band = canon_now
    # Txn-less batches need a UNIQUE tag too (ADVICE r07): a constant -1
    # made every txn-less batch's stage-4 read-back match ALL prior
    # txn-less bands, silently degrading the incremental new⋈index
    # contract to full index⋈index (correct results — the pairs merge
    # dedups — but quadratic candidate cost). Derive the tag from the
    # table log (strictly increasing per batch) and keep it negative so
    # it can never collide with a caller-supplied txn version.
    #
    # Crash-resume for txn-less tags (ADVICE r08): unique tags alone
    # would orphan a batch that died between the band_index append and
    # the pairs merge — the re-run's left_anti skips its (banded) docs,
    # its fresh tag matches nothing, and those docs' new-vs-index pairs
    # are skipped forever. A PAIRED-THROUGH WATERMARK closes the gap:
    # after stage 4 commits, the most recent completed tag is recorded
    # as a band_index table property; tags are strictly decreasing, so
    # every tag strictly below the watermark is either the current
    # batch or an orphan, and the stage-4 read-back recovers both. The
    # pairs merge dedups any re-discovered pair, so recovery is
    # idempotent.
    if txn is not None:
        batch_v_val = int(txn["version"])
    else:
        pre_v = t["band_index"].current_version() if had_index else -1
        batch_v_val = -(pre_v + 2)
        # default 0 = "nothing paired yet": every txn-less tag is
        # negative, so a fresh table's first batch (tag -1) is covered
        paired_through = int(
            (t["band_index"].properties() if had_index else {}).get(
                "txnless_paired_through", 0
            )
        )
    batch_v = F.lit(batch_v_val).cast("bigint")
    new_bands = (
        minhash_bands_df(minhash_signatures_df(to_band.select("doc_id", "text")))
        .select("doc_id", "sig", "band_key")
        .withColumn("batch_v", batch_v)
    )
    # Small-file hygiene is POLICY, not a hard-coded coalesce (the old
    # coalesce(8) was a fixed parallelism ceiling at real batch sizes):
    # the auto_compact table property folds accumulated small files into
    # target-sized ones as physical-only commits, while each batch's
    # write keeps the cluster's natural parallelism.
    if had_index:
        t["band_index"].append(new_bands, txn=txn)
    else:
        t["band_index"].overwrite(new_bands, txn=txn)
        t["band_index"].set_properties(
            {"auto_compact": True, "auto_compact_min_files": 16}
        )
    # replay-safe AND compute-once: this batch's bands read back from
    # the committed index (identical whether the append just ran or ran
    # pre-crash). Reading back also for the txn-less single-batch run
    # stops stage 4 from re-deriving the whole minhash lineage a second
    # time — the signatures are computed exactly once, inside the
    # commit (measured ~1.5 s of the driver query's wall). Txn runs
    # read exactly this version's rows (the table skips a replay);
    # txn-less runs read every tag below the paired-through watermark —
    # the current batch plus any crash-orphaned predecessors.
    readback = (
        F.col("batch_v") == batch_v_val
        if txn is not None
        else F.col("batch_v") < paired_through
    )
    new_bands = t["band_index"].read().filter(readback).select(
        "doc_id", "sig", "band_key"
    )

    # ---- stage 4: candidate pairs (incremental: new ⋈ full index),
    # with the stop-band skew guard (the MH_BUCKET_CAP policy): band keys
    # whose index bucket exceeds the cap are excluded from the join —
    # degenerate boilerplate bands would otherwise make the new-batch
    # join quadratic in the hot bucket. Anti-join keeps it plan-side.
    index = t["band_index"].read()
    hot = (
        index.groupBy("band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > MH_BUCKET_CAP)
        .select("band_key")
    )
    index = index.join(hot, "band_key", "left_anti")
    nb = new_bands.select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("n_sig"), "band_key"
    )
    cand = (
        index.join(nb, "band_key")
        .filter(F.col("doc_id") != F.col("n_id"))
        .select(
            F.least("doc_id", "n_id").alias("doc_a"),
            F.greatest("doc_id", "n_id").alias("doc_b"),
            F.when(F.col("doc_id") < F.col("n_id"), F.col("sig")).otherwise(F.col("n_sig")).alias("sa"),
            F.when(F.col("doc_id") < F.col("n_id"), F.col("n_sig")).otherwise(F.col("sig")).alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    new_pairs = (
        cand.withColumn("est_jaccard", minhash_est_jaccard("sa", "sb"))
        .filter(F.col("est_jaccard") >= MH_EST_THRESHOLD)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    if t["pairs"].exists():
        # pairs between two already-indexed docs were found when the later
        # one arrived; merge dedups re-discovered (new,new) pairs.
        # File-count hygiene comes from the table's auto_compact policy
        # (replaces the old fixed coalesce(4) write ceiling).
        t["pairs"].merge(new_pairs, keys=["doc_a", "doc_b"], txn=txn)
    else:
        t["pairs"].overwrite(new_pairs, txn=txn)
        t["pairs"].set_properties(
            {"auto_compact": True, "auto_compact_min_files": 16}
        )
    if txn is None:
        # advance the txn-less paired-through watermark only AFTER the
        # pairs commit: a crash anywhere above leaves the watermark at
        # its old value, so the next run's read-back recovers this
        # batch's bands (tags strictly decrease, so this is monotone)
        t["band_index"].set_properties(
            {"txnless_paired_through": batch_v_val}
        )

    # ---- stage 5: near-dup clusters — INCREMENTAL when seeds exist
    # (r03 verdict item #6): previous labels seed the recompute, only
    # components adjacent to this batch's docs/pairs re-propagate, and
    # the delta MERGEs over the clusters table (untouched components are
    # never rewritten). First batch (no seeds) is the global fixpoint.
    # All inputs are table state, so crash replays stay correct; the
    # fold reads the seeds and merges at one head, and a replayed batch
    # returns before any label propagation runs.
    ids = t["canonical"].read().select("doc_id")
    pairs = t["pairs"].read().select("doc_a", "doc_b")

    def label(prev):
        if prev is None:
            return _connected_components(ids, pairs)
        from ecommerce_lakehouse_spark.operators.graph import (
            incremental_components,
        )

        seeds = prev.select("doc_id", "cluster_id")
        return incremental_components(seeds, ids, pairs, pointer_jump=True)[0]

    v = t["clusters"].fold(label, txn=txn, keys=["doc_id"])
    if v == 1:  # the fold created the table
        t["clusters"].set_properties(
            {"auto_compact": True, "auto_compact_min_files": 16}
        )
    labels = t["clusters"].read(version=v).select("doc_id", "cluster_id")

    # ---- stage 6: canonical survivors (cluster representatives)
    surv = (
        t["canonical"].read()
        .join(labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"), "doc_id")
        .select("doc_id", "content_hash", "n_copies", "lang")
    )
    surv = surv.repartition("lang")
    t["survivors"].overwrite(surv, partition_by=["lang"], txn=txn)
    # stage 7 reads the COMMITTED survivors instead of re-running the
    # representative join — table state is also the correct input on a
    # crash replay that skipped the survivors overwrite above
    surv = t["survivors"].read()

    # ---- stage 7: reproducible hash split (never rand())
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(100),
    )
    splits = surv.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test"),
    )
    t["splits"].overwrite(
        splits.repartition("split"), partition_by=["split"], txn=txn
    )
    return t


def _connected_components(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared min-label propagation engine (operators/graph.py) in
    POINTER-JUMP mode — O(log diameter) rounds, so the pipeline survives
    pathological dup topologies (a templated page with an incrementing
    counter makes a near-dup CHAIN whose diameter is the chain length;
    the r09 100x smoke's synthetic batch hit exactly that and blew the
    plain mode's 64-round bound). Raises rather than returning
    half-merged clusters if even the doubling bound is exceeded."""
    from ecommerce_lakehouse_spark.operators.graph import min_label_propagation

    return min_label_propagation(ids, pairs, pointer_jump=True)


def funnel(
    spark: SparkSession, t: dict[str, LakeTable], n_raw: int | DataFrame
) -> DataFrame:
    """Stage-count funnel over the materialized pipeline state — the
    shrinkage report every corpus build publishes, read from the actual
    LakeTable versions (not recomputed). Built as ONE unioned DataFrame
    (a single Spark action computes all eight stage counts) rather than
    per-stage count() jobs — same result, one job-scheduling round trip
    instead of seven. ``n_raw`` may be the raw-input DataFrame itself,
    in which case its count joins the same single action instead of
    costing the caller an eager ``count()`` job up front."""

    def row(order: int, name: str, n_col):
        return F.lit(order).cast("int").alias("stage_order"), F.lit(name).alias(
            "stage"
        ), n_col.cast("bigint").alias("n_docs")

    if isinstance(n_raw, DataFrame):
        raw = n_raw.agg(F.count(F.lit(1)).alias("n")).select(
            *row(1, "raw", F.col("n"))
        )
    else:
        raw = spark.range(1).select(*row(1, "raw", F.lit(n_raw)))
    qual = t["quality"].read().agg(F.count("*").alias("n")).select(
        *row(2, "quality_pass", F.col("n"))
    )
    canon = t["canonical"].read().agg(F.count("*").alias("n")).select(
        *row(3, "canonical", F.col("n"))
    )
    nm = (
        t["clusters"].read()
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
        .select(*row(4, "neardup_member", F.col("n")))
    )
    surv = t["survivors"].read().agg(F.count("*").alias("n")).select(
        *row(5, "survivors", F.col("n"))
    )
    sp = t["splits"].read().agg(
        F.coalesce(F.sum(F.when(F.col("split") == "train", 1)), F.lit(0)).alias("tr"),
        F.coalesce(F.sum(F.when(F.col("split") == "val", 1)), F.lit(0)).alias("va"),
        F.coalesce(F.sum(F.when(F.col("split") == "test", 1)), F.lit(0)).alias("te"),
    )
    tr = sp.select(*row(6, "train", F.col("tr")))
    va = sp.select(*row(7, "val", F.col("va")))
    te = sp.select(*row(8, "test", F.col("te")))
    out = raw
    for part in (qual, canon, nm, surv, tr, va, te):
        out = out.unionByName(part)
    return out
