"""Structured Streaming jobs (SURVEY §2.10).

The reference is batch-only; its event-driven ingest architecture
(docs/architecture.md:103-141: S3 event → Lambda → pipeline) and
"near real-time" requirement (docs/requirements.md:19-23) map to
Structured Streaming: file-source readStream → watermarked windowed/
sessionized aggregation → sink, and foreachBatch → LakeTable.merge for the
reference's Delta-MERGE incremental load (K5 semantics, G:442-458).

The transformations are THE SAME expressions as the batch queries in
queries/events.py — one definition of windowing semantics, two execution
modes (the Spark streaming/batch unification). Tests drive these with
trigger(availableNow=True) against the events parquet and assert equality
with the batch results.

Scale notes: watermarks bound state; session windows use the built-in
state store (RocksDB-backed on a real cluster); foreachBatch merge gives
exactly-once upsert when paired with checkpointing + idempotent MERGE keys.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.lake import LakeTable, merge_aggregate
from ecommerce_lakehouse_spark.operators.timeseries import (
    hw_forecast_from_monthly,
    mixture_shift_summary,
    ph_summary_from_daily,
    spike_flags_from_daily,
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, spool_dir: str | None = None
) -> DataFrame:
    """File-source stream over the events table (one-file-per-trigger
    simulates micro-batch arrival; schema pinned from the batch reader).

    ts normalization is shared with the batch path
    (tables.normalize_events_ts) so the two readers cannot drift.

    The file-stream source ingests directories (files "arrive" in them).
    The testdata table is a single file — expose it through ``spool_dir``
    (populated with a symlink, no copy); in production this is the landing
    directory upstream ingest appends files into. When not supplied, a
    deterministic per-source temp dir is derived: checkpoints pin the
    source path, so a restarted query must see the same directory to
    resume exactly-once.
    """
    from ecommerce_lakehouse_spark.tables import normalize_events_ts, read_events_raw

    path = os.path.join(sf_dir, "events.parquet")
    schema = read_events_raw(spark, path).schema
    if spool_dir is None:
        import hashlib
        import tempfile

        digest = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
        spool_dir = os.path.join(tempfile.gettempdir(), f"events_spool_{digest}")
    os.makedirs(spool_dir, exist_ok=True)
    link = os.path.join(spool_dir, "events-000.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(spool_dir)
    )
    return normalize_events_ts(raw)


def windowed_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h windowed agg with late-data watermark — the streaming
    twin of queries/events.py::tumbling_window_agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows in streaming mode (stateful; watermark closes
    sessions) — twin of queries/events.py::session_window_agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_merge_into(
    events: DataFrame,
    table: LakeTable,
    keys: list[str],
    checkpoint_dir: str,
):
    """foreachBatch → MERGE upsert: reproduces the reference's incremental
    Delta MERGE load (K5) in streaming form. Each micro-batch is deduped
    on the merge keys (Delta's uniqueness precondition, SURVEY §7.5) then
    upserted; replays are idempotent."""
    from ecommerce_lakehouse_spark.operators import dedup_by_key

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        deduped = dedup_by_key(batch_df, keys, [F.asc(c) for c in keys])
        table.merge(deduped, keys=keys)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def running_user_profile(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (north star:
    the escape hatch for operators Spark's built-in streaming aggs can't
    express — per-key running profiles, custom eviction, model state).

    Maintains per-user state across micro-batches: cumulative event count,
    exact decimal-free running value total, and the number of batches that
    touched the user. Emits the updated profile each time a batch contains
    the user (update semantics).

    Scale: state lives in the state store (RocksDB-backed on a cluster),
    partitioned by the group key — no driver involvement; Arrow batches
    keep the Python boundary vectorized. Pair with a watermark + timeout
    (GroupStateTimeout) to bound state for keys that go quiet."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double, n_batches int"
    state_schema = "n bigint, total double, batches int"

    def update_profile(key, pdf_iter, state: GroupState):
        n, total, batches = state.get if state.exists else (0, 0.0, 0)
        seen = 0
        for pdf in pdf_iter:
            seen += len(pdf)
            n += len(pdf)
            total += float(pdf["value"].sum())
        if seen:
            batches += 1
        state.update((n, total, batches))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "n_batches": [batches],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table.
    The static side is re-read per micro-batch (so slowly-changing dims
    pick up updates) and broadcast — no stream-side state, no watermark
    needed for inner equi-joins against static data. This is the
    streaming twin of the gold marts' broadcast-dim joins."""
    return events.join(F.broadcast(dim), on, "left")


def stream_rollup_refresh(
    events: DataFrame,
    table: LakeTable,
    checkpoint_dir: str,
):
    """foreachBatch → merge_aggregate: continuously-refreshed rollup
    (hypertable-style continuous aggregate). Each micro-batch is reduced
    to (hour window, event_type) partials, then COMBINED into the rollup
    table — matched buckets add, new buckets insert. Only buckets present
    in the delta are touched, so a day's stream updates a handful of
    rows, never recomputing history.

    Exactly-once: additive combines are NOT naturally idempotent under
    micro-batch replay (foreachBatch is at-least-once), so each commit
    records the batch id in the LakeTable manifest (Delta's txnAppId /
    txnVersion pattern) — see apply_rollup_batch."""

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(table, batch_df, batch_id)

    return (
        events.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


ROLLUP_TXN_APP = "stream_rollup"


def _added(state: DataFrame | None, inc: DataFrame, keys: list[str], sum_cols: list[str]):
    """``inc`` added into the additive fold state ``state`` (None before
    the first fold) by key: matched keys sum, new keys insert."""
    return inc if state is None else merge_aggregate(state, inc, keys, sum_cols)


def apply_rollup_batch(table: LakeTable, batch_df: DataFrame, batch_id: int) -> None:
    """One idempotent micro-batch application of the continuous rollup:
    the batch's partials are added to the rollup's rows for its buckets
    and merged on (bucket, event_type) by ``LakeTable.fold``.

    The commit carries ``{"app_id": ROLLUP_TXN_APP, "version":
    batch_id}``; if a crash between the table commit and the checkpoint
    commit causes Spark to replay the batch, the fold sees the batch id
    already applied and returns before any Spark job — Delta's
    idempotent-writes pattern for foreachBatch. A fold by another writer
    landing after this one read the rollup makes it raise
    ConcurrentWriteError instead of replacing that commit."""
    if batch_df.isEmpty():
        return
    keys = ["bucket", "event_type"]
    delta = (
        batch_df.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )

    def combine(rollup):
        touched = None if rollup is None else rollup.join(delta.select(*keys), keys, "left_semi")
        return _added(touched, delta, keys, ["n_events", "total_value"])

    table.fold(combine, txn={"app_id": ROLLUP_TXN_APP, "version": batch_id}, keys=keys)


def deduped_stream(events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps per-key
    state only inside the watermark horizon, so state is bounded no matter
    how long the stream runs — the streaming twin of the batch
    dedup-by-pk (A8) / exact_dedup operators, and the first stage of a
    streaming training-data ingest (dedup at the door, then MERGE)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join (attribution shape: purchase joined to the
    clicks that preceded it within ``max_delay`` for the same user).

    Both sides carry watermarks AND the join has a time-range condition —
    together they bound the join state Spark must buffer: a click older
    than purchase_time - max_delay can never match again and is evicted.
    Without both constraints a stream-stream join's state grows without
    bound — the classic production OOM."""
    l_ = left.withWatermark("ts", watermark).select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r_ = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l_.join(
        r_,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}")),
    ).select(
        F.col("l_user").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
    )


CURATION_TXN_APP = "stream_curation"


def ingest_curation_batch(spark, batch_df: DataFrame, batch_id: int, root: str) -> None:
    """One idempotent micro-batch through the FULL incremental curation
    DAG (pipelines/curation.py): quality MERGE, cross-batch exact-dedup
    combine, append-only band index, derived clusters/survivors/splits.
    The batch id rides on EVERY stage commit (Delta txn pattern) and
    each stage table skips a write whose batch id it already applied, so
    an at-least-once foreachBatch replay after a crash anywhere in the
    DAG resumes from the first unapplied stage — never skipped
    wholesale, never double-merged — the streaming front door a 100 TB
    corpus build runs at the ingest edge."""
    from ecommerce_lakehouse_spark.pipelines.curation import curate

    if batch_df.isEmpty():
        return
    curate(
        spark,
        batch_df,
        root,
        txn={"app_id": CURATION_TXN_APP, "version": batch_id},
    )


def stream_curation_ingest(docs: DataFrame, root: str, checkpoint_dir: str):
    """Streaming ingest into the materialized curation pipeline:
    watermark-bounded CONTENT-hash dedup at the door (exact copies never
    even reach the batch pipeline; state is bounded by the watermark
    horizon), then each micro-batch runs the incremental curation DAG
    via foreachBatch. Expects (doc_id, lang, source, text, ts)."""
    deduped = (
        docs.withWatermark("ts", "2 hours")
        .withColumn("__h", F.md5("text"))
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h", "ts")
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_curation_batch(batch_df.sparkSession, batch_df, batch_id, root)

    return (
        deduped.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_backfill_available_now(
    spark: SparkSession,
    sf_dir: str,
    table: LakeTable,
    checkpoint: str,
    spool_dir: str | None = None,
):
    """Backfill-then-stop ingestion (Trigger.AvailableNow): drain every
    file already present in the source — in multiple rate-limited
    micro-batches honoring maxFilesPerTrigger, exactly like continuous
    operation — then terminate. This is the operational mode for
    catching a stream up after downtime or seeding a new table from a
    landing directory: same query, same checkpoint, same exactly-once
    MERGE sink as the continuous trigger, so the backfill and the
    steady-state stream cannot drift.

    Returns the StreamingQuery (already draining; call awaitTermination)."""
    events = read_events_stream(spark, sf_dir, spool_dir=spool_dir)

    def upsert(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge(batch_df.dropDuplicates(["event_id"]), keys=["event_id"])

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_replicate(
    spark,
    src_root: str,
    dst_root: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """Continuous table replication: tail ``src_root`` as a streaming
    change feed (the ``laketable`` source with ``readChangeFeed``) and
    APPLY CHANGES INTO ``dst_root`` per microbatch — the stream-side
    composition of the storage layer's CDC producer and consumer.

    Exactly-once: each microbatch commit records
    ``{"app_id": replicate:<src>, "version": batch_id}``; the table
    skips a replayed batch (crash between table commit and checkpoint
    commit) whose id it already applied — Delta's idempotent
    foreachBatch pattern. Append-only sources by contract: a rewrite
    commit on the source raises in the stream source itself (honest,
    not silent); for tables with DML history, replicate in batch via
    ``dst.apply_changes(src.changes(...), ...)``.

    Returns the started StreamingQuery (caller picks the trigger by
    stopping/awaiting; use ``.trigger(availableNow=True)`` semantics by
    awaiting termination of the returned always-on query, or wrap your
    own — this helper starts with availableNow so catch-up runs drain
    and stop)."""
    from ecommerce_lakehouse_spark.lake.stream_source import register_lake_source

    register_lake_source(spark)
    dst = LakeTable(spark, dst_root)
    app_id = f"replicate:{src_root}->{dst_root}"

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dst.apply_changes(
            batch_df,
            keys=keys,
            sequence_col="_commit_version",
            txn={"app_id": app_id, "version": batch_id},
        )

    return (
        spark.readStream.format("laketable")
        .option("path", src_root)
        .option("startingVersion", "earliest")
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_mv_refresh(
    spark,
    src_root: str,
    mart_root: str,
    group_cols: list[str],
    sum_cols: dict[str, str],
    checkpoint_dir: str,
):
    """Continuously-maintained materialized aggregate: tail ``src_root``
    as a streaming change feed and fold each microbatch's signed deltas
    into the mart (``lake/mv.py::MaterializedAggregate.fold``) — the
    streaming face of incremental view maintenance, i.e. Databricks'
    "materialized view refresh" running as a Structured Streaming job.

    Exactly-once: each fold commits ``{"app_id": mv-stream:<src>,
    "version": batch_id}``; the mart skips a replayed microbatch (crash
    between mart commit and checkpoint commit) whose id it already
    applied. The mart must be maintained by THIS mode only — the batch
    ``refresh()`` records source versions, not batch ids, and mixing
    the two double-counts (see MaterializedAggregate.fold).

    Starts with availableNow (drain pending commits, then stop);
    re-invoke on a schedule or wrap your own trigger for always-on."""
    from ecommerce_lakehouse_spark.lake.mv import MaterializedAggregate
    from ecommerce_lakehouse_spark.lake.stream_source import register_lake_source

    register_lake_source(spark)
    src = LakeTable(spark, src_root)
    mart = LakeTable(spark, mart_root)
    mv = MaterializedAggregate(src, mart, group_cols, sum_cols)
    app_id = f"mv-stream:{src_root}->{mart_root}"
    mv.app_id = app_id

    def fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        mv.fold(batch_df, txn={"app_id": app_id, "version": batch_id})

    return (
        spark.readStream.format("laketable")
        .option("path", src_root)
        .option("startingVersion", "earliest")
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_apply_changes_scd2(
    spark,
    src_root: str,
    dst_root: str,
    keys: list[str],
    sequence_col: str,
    checkpoint_dir: str,
    change_type_col: str = "_change_type",
):
    """Streaming SCD Type 2: tail an append-only CDC EVENT LOG (each
    appended row carries its own ``sequence_col`` and
    ``change_type_col`` — the Kafka-connector / DMS landing shape) and
    feed each microbatch to :meth:`LakeTable.apply_changes_scd2`, so a
    continuously-arriving change stream keeps a history-preserving
    dimension fresh — DLT's ``APPLY CHANGES INTO ... STORED AS SCD
    TYPE 2`` running as a Structured Streaming job (the history-keeping
    sibling of ``stream_replicate``'s Type 1 apply).

    The source is read as PLAIN appended rows (not ``readChangeFeed``):
    an event log's rows already ARE the change events, with
    insert/update_postimage/delete verbs in their own column — the
    laketable CDF wrapper would re-describe every appended event as an
    "insert" and bury the real verb. Per-key monotone sequences are the
    feed's contract (apply_changes_scd2 raises on violations rather
    than corrupting history).

    Exactly-once: each microbatch commit records ``{"app_id":
    scd2:<src>-><dst>, "version": batch_id}``; the dimension skips a
    replayed batch (crash between dimension commit and checkpoint
    commit) whose id it already applied. Because apply_changes_scd2 orders
    multi-change keys within a batch and joins the open row into that
    ordering, the incremental history is identical to one batch apply
    over the whole feed (tests/test_streaming.py asserts equality).

    Starts with availableNow (drain pending commits, then stop);
    re-invoke on a schedule or wrap your own trigger for always-on."""
    from ecommerce_lakehouse_spark.lake.stream_source import register_lake_source

    register_lake_source(spark)
    dst = LakeTable(spark, dst_root)
    app_id = f"scd2:{src_root}->{dst_root}"

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dst.apply_changes_scd2(
            batch_df,
            keys=keys,
            sequence_col=sequence_col,
            change_type_col=change_type_col,
            txn={"app_id": app_id, "version": batch_id},
        )

    return (
        spark.readStream.format("laketable")
        .option("path", src_root)
        .option("startingVersion", "earliest")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_drift_monitor(
    events: DataFrame,
    reference_bins: dict[int, int],
    log_root: str,
    checkpoint_dir: str,
    psi_alert_nanos: int = 100_000_000,  # PSI > 0.1: "investigate"
):
    """Streaming input-drift monitor: the streaming face of
    `psi_value_drift` (queries/experiment.py). The event stream's value
    distribution is aggregated into the SAME fixed equal-width bins
    (width 50, clamped at 9 — fixed edges are what makes a drift score
    comparable across time), and every micro-batch appends one row to a
    tailable LakeTable log: cumulative count, the PSI of the
    stream-so-far vs the frozen ``reference_bins`` profile, and an
    alert flag once PSI crosses the 0.1 'investigate' threshold.

    Mechanics: a complete-mode streaming aggregation keeps the
    cumulative per-bin counts as Spark-managed state (map-side partial
    aggregation; state is <=10 rows regardless of volume); foreachBatch
    receives the full histogram each trigger, computes PSI with the
    batch query's exact arithmetic (Laplace-smoothed shares, each
    ln-term rounded once into integer nanos, exact integer total), and
    commits the log row with the Delta txn pattern — the log skips a
    replayed batch whose id it already applied, so it is exactly-once.

    The batch/stream contract (tested): after draining the second-half
    events against a first-half reference, the final logged psi_nanos
    equals `psi_value_drift`'s total exactly."""
    import pandas as pd
    import pyspark.sql.functions as F

    log = LakeTable(events.sparkSession, log_root)
    app_id = f"drift-monitor:{log_root}"
    ref = dict(reference_bins)

    binned = events.groupBy(
        F.least(F.lit(9), F.floor(F.col("value") / 50.0).cast("long")).alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur = {int(r.bin): int(r.c) for r in batch_df.collect()}  # <=10 rows
        if not cur:
            return
        bins = sorted(set(ref) | set(cur))
        n1, n2, k = sum(ref.values()), sum(cur.values()), len(bins)
        total = 0
        for b in bins:
            p = float(ref.get(b, 0) + 1) / float(n1 + k)
            q = float(cur.get(b, 0) + 1) / float(n2 + k)
            x = (p - q) * math.log(p / q) * 1e9
            total += int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))
        row = log.spark.createDataFrame(
            pd.DataFrame(
                [
                    (
                        int(batch_id),
                        int(n2),
                        int(total),
                        float(total) / 1e9,
                        bool(total > psi_alert_nanos),
                    )
                ],
                columns=["batch_id", "n_seen", "psi_nanos", "psi", "alert"],
            ),
            "batch_id bigint, n_seen bigint, psi_nanos bigint, "
            "psi double, alert boolean",
        )
        log.append(row, txn={"app_id": app_id, "version": int(batch_id)})

    return (
        binned.writeStream.outputMode("complete")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_heavy_hitters(
    orders: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
    max_candidates: int = 4096,
):
    """Streaming heavy hitters via a MERGEABLE count-min sketch — the
    streaming face of `cms_heavy_hitters` (queries/llm6.py) and the
    canonical sketches-at-scale story: CMS cells are pure counters, so
    per-batch increments fold into the state by ADDITION, and the
    streamed sketch is bit-identical to one built over the whole corpus
    in batch (tested). State is two LakeTables under ``state_root``:
    ``cells`` (depth x width counters — fixed 4096 rows at ANY volume)
    and ``cand`` (the tracked heavy-hitter candidate keys with their
    current sketch estimate, capped at ``max_candidates`` by
    (estimate desc, key) — the SpaceSaving-style companion CMS needs
    because a sketch alone cannot enumerate keys).

    Exactly-once: both tables commit through ``LakeTable.fold`` with
    the Delta txn pattern keyed by batch id, which skips a batch its
    table already applied before any Spark job and raises on a
    concurrent fold: a crash between the two commits replays the batch
    past the cells fold (the non-idempotent addition) into the candidate
    fold, which reads the cells at the version their fold returned.

    Hashing matches the batch query exactly (md5(f"{i}|{key}") % width),
    so estimates agree across engines, retries and partitionings."""
    import pyspark.sql.functions as F

    spark = orders.sparkSession
    cells_t = LakeTable(spark, os.path.join(state_root, "cells"))
    cand_t = LakeTable(spark, os.path.join(state_root, "cand"))
    app = f"hh:{state_root}"

    def bucket(i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), F.col("o_custkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % width
        )

    def cells_of(df: DataFrame) -> DataFrame:
        # each row of df once per sketch row i, with its cell b
        ib = F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).cast("long").alias("i"), bucket(i).alias("b"))
                    for i in range(depth)
                ]
            )
        )
        return df.select("*", ib.alias("ib")).select(
            *df.columns, F.col("ib.i").alias("i"), F.col("ib.b").alias("b")
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        keys = batch_df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        if keys.isEmpty():
            return
        inc = cells_of(keys).groupBy("i", "b").agg(F.sum("cnt").cast("long").alias("cell"))
        txn = {"app_id": app, "version": int(batch_id)}
        v = cells_t.fold(lambda cells: _added(cells, inc, ["i", "b"], ["cell"]), txn=txn)

        def estimate(cand):
            # candidate set: prior candidates + this batch's keys,
            # re-estimated against the UPDATED sketch, kept to the top
            # max_candidates
            cand_keys = keys.select("o_custkey")
            if cand is not None:
                cand_keys = cand.select("o_custkey").unionByName(cand_keys).distinct()
            return (
                cells_of(cand_keys)
                .join(F.broadcast(cells_t.read(version=v)), on=["i", "b"])
                .groupBy("o_custkey")
                .agg(F.min("cell").cast("long").alias("est_cnt"))
                .orderBy(F.desc("est_cnt"), "o_custkey")
                .limit(max_candidates)
            )

        cand_t.fold(estimate, txn=txn)

    return (
        orders.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_kll_quantiles(
    events: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    k: int = 1024,
):
    """Streaming quantile sketch — the streaming face of
    `kll_quantile_sketch` (queries/llm10.py) and the third member of the
    mergeable-state trio next to stream_heavy_hitters (CMS) and
    stream_drift_monitor (histogram/PSI): each micro-batch builds its
    own KLL-family level sketch (operators/sketch.py) and MERGES it into
    the persisted state; because the sketch is history-independent
    (survival decided by each item's md5 bits), the streamed state is
    BIT-IDENTICAL to one sketch built over all data in batch — any batch
    boundaries, any replay order (tested).

    State is ONE LakeTable row (n, level, items — O(k) whatever the
    volume); quantile queries are element_at on the sorted item array.
    Exactly-once: the merge is NOT idempotent (n accumulates), so it is
    a ``LakeTable.fold`` with the Delta txn pattern, which skips a
    replayed micro-batch before any Spark job and raises on a concurrent
    fold; single-table state means no torn-commit window exists.
    """
    from ecommerce_lakehouse_spark.operators.sketch import (
        kll_level_sketch,
        kll_merge,
        md5_hash60,
    )

    spark = events.sparkSession
    sk_t = LakeTable(spark, os.path.join(state_root, "sketch"))
    app = f"kll:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df.select(
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
            md5_hash60(F.col("event_id")).alias("h"),
        )
        bsk = kll_level_sketch(src, "cents", "h", k=k)
        if bsk.isEmpty():
            return  # empty micro-batch: nothing to fold
        sk_t.fold(
            lambda sk: bsk if sk is None else kll_merge(sk.unionByName(bsk), k=k),
            txn={"app_id": app, "version": int(batch_id)},
        )

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_page_hinkley(
    orders: DataFrame,
    state_root: str,
    checkpoint_dir: str,
):
    """Streaming Page-Hinkley monitor — the streaming face of
    `page_hinkley_drift` (queries/wave7.py) and the natural deployment
    shape of a SEQUENTIAL detector: each micro-batch folds its per-day
    exact cents ADDITIVELY into the date-domain-bounded daily state
    (the stream_spike_monitor pattern), then recomputes the full PH
    summary from that state with the exact batch expression
    (`ph_summary_from_daily`) — so after any chunking of the order
    stream the summary is BIT-IDENTICAL to the batch query (tested).

    Exactly-once: both tables commit with the Delta txn pattern and
    each skips a batch it already applied (the daily state is a
    ``LakeTable.fold``: no Spark job on a replay, a concurrent fold
    raises), so a crash between the non-idempotent daily fold and the
    summary overwrite replays into the summary only (the torn-commit
    lesson), which reads the daily state at the version its fold
    returned.

    Scale: state is one row per DATE; the PH windows run over that
    bounded frame — the sanctioned class."""
    spark = orders.sparkSession
    daily_t = LakeTable(spark, os.path.join(state_root, "daily"))
    sum_t = LakeTable(spark, os.path.join(state_root, "summary"))
    app = f"ph:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        inc = (
            batch_df.select(
                F.to_date("o_orderdate").alias("day"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("day")
            .agg(F.sum("cents").cast("long").alias("cents"))
        )
        if inc.isEmpty():
            return
        txn = {"app_id": app, "version": int(batch_id)}
        v = daily_t.fold(lambda daily: _added(daily, inc, ["day"], ["cents"]), txn=txn)
        sum_t.overwrite(ph_summary_from_daily(daily_t.read(version=v)), txn=txn)

    return (
        orders.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_grouped_quantiles(
    events: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    k: int = 256,
):
    """Streaming GROUPED quantile sketch — the streaming face of
    `grouped_quantile_sketch` (queries/llm10.py, one KLL sketch per
    event type): each micro-batch builds per-type sketches
    (kll_level_sketch grouped) and folds them into the persisted
    per-type state with kll_merge_grouped. History independence holds
    PER GROUP (each item's survival is decided by its own md5 bits
    against the group's level threshold), so the streamed state is
    bit-identical per type to one grouped build over the whole input —
    any chunking, any restart (tested).

    Exactly-once: the fold is non-idempotent (per-type n accumulates),
    so it is a ``LakeTable.fold`` with the Delta txn pattern, which skips
    a replayed micro-batch, batch_id 0 included, before any Spark job
    and raises on a concurrent fold.

    Scale: state is O(k) rows per event type; the merge stages all key
    by type, so a million-tenant profile folds in one fixed-width
    shuffle per micro-batch — the grouped-sketch contract that makes
    per-tenant monitoring viable at 100 TB."""
    from ecommerce_lakehouse_spark.operators.sketch import (
        kll_level_sketch,
        kll_merge_grouped,
        md5_hash60,
    )

    spark = events.sparkSession
    sk_t = LakeTable(spark, os.path.join(state_root, "sketch"))
    app = f"gkll:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df.select(
            "event_type",
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
            md5_hash60(F.col("event_id")).alias("h"),
        )
        bsk = kll_level_sketch(
            src, "cents", "h", k=k, group_cols=["event_type"]
        )
        if bsk.isEmpty():
            return  # empty micro-batch: nothing to fold
        sk_t.fold(
            lambda sk: bsk if sk is None else kll_merge_grouped(sk.unionByName(bsk), ["event_type"], k=k),
            txn={"app_id": app, "version": int(batch_id)},
        )

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_spike_monitor(
    orders: DataFrame,
    state_root: str,
    checkpoint_dir: str,
):
    """Streaming rolling-MAD spike monitor — the streaming face of
    `daily_revenue_spike_flags` (queries/stats2.py) and the fourth
    member of the mergeable-state family (histogram/PSI drift, CMS
    heavy hitters, KLL quantiles): each micro-batch folds its per-day
    exact-cent revenue ADDITIVELY into a date-domain-bounded daily
    state table, then recomputes the full flags table from that state
    with the exact batch expression (`spike_flags_from_daily`) — so
    after any chunking of the order stream the flags are BIT-IDENTICAL
    to the batch query over the same data (tested).

    Exactly-once: the daily fold is non-idempotent (cents accumulate),
    so it is a ``LakeTable.fold`` with the Delta txn pattern, which
    skips a replayed batch before any Spark job and raises on a
    concurrent fold; the flags overwrite must still run on a batch
    replayed after a crash between the two commits (the
    stream_heavy_hitters torn-commit lesson), and it does: each table
    checks the batch id against its own head, and the flags read the
    daily state at the version its fold returned.

    Scale: state is one row per DATE (domain-bounded); the rolling
    window runs over that aggregated frame — the sanctioned class."""
    spark = orders.sparkSession
    daily_t = LakeTable(spark, os.path.join(state_root, "daily"))
    flags_t = LakeTable(spark, os.path.join(state_root, "flags"))
    app = f"spike:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        inc = (
            batch_df.select(
                F.to_date("o_orderdate").alias("d"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("d")
            .agg(F.sum("cents").cast("long").alias("cents"))
        )
        if inc.isEmpty():
            return
        txn = {"app_id": app, "version": int(batch_id)}
        v = daily_t.fold(lambda daily: _added(daily, inc, ["d"], ["cents"]), txn=txn)
        flags_t.overwrite(spike_flags_from_daily(daily_t.read(version=v)), txn=txn)

    return (
        orders.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_holt_winters(
    orders: DataFrame,
    state_root: str,
    checkpoint_dir: str,
):
    """Streaming Holt-Winters forecaster — the streaming face of
    `holt_winters_seasonal` (queries/wave7.py) and the fifth member of
    the fold-state-then-recompute family (PH drift, spike flags, KLL,
    heavy hitters): each micro-batch folds its per-MONTH exact cents
    additively into the calendar-domain-bounded monthly state, then
    recomputes the full level/trend/seasonal fit + 6-month forecast
    from that state with the exact batch expression
    (`hw_forecast_from_monthly`) — so after any chunking of the order
    stream the forecast is BIT-IDENTICAL to the batch query (tested;
    the monthly revenue double is one division of exact cents, the
    same nearest-double the batch decimal sum lands on).

    Exactly-once: both tables commit with the Delta txn pattern and
    each skips a batch it already applied (the monthly state is a
    ``LakeTable.fold``: no Spark job on a replay, a concurrent fold
    raises), so a crash between the non-idempotent monthly fold and the
    forecast overwrite replays into the forecast only (the torn-commit
    lesson), which reads the monthly state at the version its fold
    returned.

    Scale: state is one row per MONTH; the fit is an in-row fold over
    that bounded frame — the sanctioned class."""
    spark = orders.sparkSession
    monthly_t = LakeTable(spark, os.path.join(state_root, "monthly"))
    fc_t = LakeTable(spark, os.path.join(state_root, "forecast"))
    app = f"hw:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        inc = (
            batch_df.select(
                F.to_date(F.date_trunc("month", "o_orderdate")).alias(
                    "month"
                ),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
            .groupBy("month")
            .agg(F.sum("cents").cast("long").alias("cents"))
        )
        if inc.isEmpty():
            return
        txn = {"app_id": app, "version": int(batch_id)}
        v = monthly_t.fold(
            lambda monthly: _added(monthly, inc, ["month"], ["cents"]), txn=txn
        )
        m = monthly_t.read(version=v).select(
            "month",
            (F.col("cents").cast("double") / 100).alias("revenue"),
        )
        fc_t.overwrite(hw_forecast_from_monthly(m), txn=txn)

    return (
        orders.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_mixture_shift(
    docs: DataFrame,
    state_root: str,
    checkpoint_dir: str,
):
    """Streaming dedup-mixture-shift audit — the streaming face of
    `dedup_mixture_shift` (queries/wave7.py): per micro-batch it folds
    (a) per-SOURCE raw counters (n_docs, tok_raw — additive BIGINTs)
    and (b) the per-HASH canonical-survivor state (keep = min doc_id
    seen so far, with the keep's source and token count — merged by
    min, so a later batch's duplicate of an earlier doc attributes its
    canonical mass exactly as the batch query over the union would),
    then recomputes the full per-source summary from the two states
    with the exact batch expression (`mixture_shift_summary`) — so
    after any chunking of the document stream the shares are
    BIT-IDENTICAL to the batch query (tested; equal exact integers in,
    identical single-division doubles out).

    Exactly-once: all three tables commit with the Delta txn pattern
    and each skips a batch it already applied (the two states are
    ``LakeTable.fold``s: no Spark job on a replay, a concurrent fold
    raises). The raw-counter fold is non-idempotent, so the skip is what
    keeps it exact; the hash-state merge is idempotent by construction
    (min of min), so its skip only saves the work; a crash between
    commits replays into the tables not yet written (the torn-commit
    lesson), and the summary reads both states at the versions their
    folds returned.

    Scale: raw state is one row per SOURCE; hash state is one row per
    DISTINCT content hash — exactly the state any streaming exact-dedup
    keeps (the fixed-width md5 groupBy shape; text never enters the
    state). The summary is a source-cardinality aggregate over the
    hash state plus one broadcast of 1-row totals."""
    spark = docs.sparkSession
    raw_t = LakeTable(spark, os.path.join(state_root, "raw_counts"))
    hash_t = LakeTable(spark, os.path.join(state_root, "hash_state"))
    sum_t = LakeTable(spark, os.path.join(state_root, "summary"))
    app = f"mix:{state_root}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        d = batch_df.select(
            "doc_id",
            "source",
            F.md5("text").alias("h"),
            F.size(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
                )
            )
            .cast("long")
            .alias("n_tok"),
        )
        if d.isEmpty():
            return
        # both folds read it; lazy, so a replay both folds skip runs no job
        d = d.localCheckpoint(eager=False)
        txn = {"app_id": app, "version": int(batch_id)}

        raw_inc = d.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tok_raw"),
        )
        v_raw = raw_t.fold(
            lambda raw: _added(raw, raw_inc, ["source"], ["n_docs", "tok_raw"]), txn=txn
        )

        hash_inc = d.groupBy("h").agg(
            F.min("doc_id").alias("keep"),
            F.min_by("source", "doc_id").alias("keep_source"),
            F.min_by("n_tok", "doc_id").alias("keep_ntok"),
        )

        def keep_min(state):
            if state is None:
                return hash_inc
            # Upsert ONLY the batch's hashes (ADVICE r08: the old
            # read-union-groupBy-overwrite rewrote the corpus-sized
            # state on every micro-batch, so per-batch write cost grew
            # with total corpus size). Two batch-broadcast joins keep
            # the corpus off the wire: a broadcast LEFT-SEMI (batch
            # hash set broadcast, build=right — the one outer/semi
            # shape Spark CAN build-broadcast on the small preserved
            # side) prunes the state scan to the batch's matched rows
            # without shuffling it, then the batch left-joins that
            # batch-sized slice (broadcast again) to decide the
            # min-winner per row. The MERGE's touched-file pruning then
            # rewrites only files containing a batch hash. Tie policy
            # (keep == e_keep, i.e. the same doc_id delivered again by
            # an at-least-once source): the EXISTING row wins
            # deterministically — for the exactly-once file source ties
            # carry identical payloads anyway, and an at-least-once
            # redelivery of the same doc_id is assumed to carry the
            # same (source, n_tok).
            existing = state.select(
                "h",
                F.col("keep").alias("e_keep"),
                F.col("keep_source").alias("e_source"),
                F.col("keep_ntok").alias("e_ntok"),
            )
            relevant = existing.join(
                F.broadcast(hash_inc.select("h")), "h", "left_semi"
            )
            new_wins = F.col("e_keep").isNull() | (
                F.col("keep") < F.col("e_keep")
            )
            # WINNERS ONLY: a batch hash whose existing row already wins
            # (including redelivered duplicates, where values tie) is a
            # no-op — dropping it before the MERGE leaves state
            # unchanged and keeps touched-file pruning to files with
            # GENUINE updates (an at-least-once redelivery of a large
            # already-seen batch would otherwise rewrite every file it
            # touches with identical bytes)
            return (
                hash_inc.join(F.broadcast(relevant), "h", "left")
                .filter(new_wins)
                .select("h", "keep", "keep_source", "keep_ntok")
            )

        v_hash = hash_t.fold(keep_min, txn=txn, keys=["h"])

        canon = hash_t.read(version=v_hash).groupBy(
            F.col("keep_source").alias("source")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_canonical"),
            F.sum("keep_ntok").cast("long").alias("tok_dedup"),
        )
        per_source = (
            raw_t.read(version=v_raw)
            .join(canon, "source", "left")
            .select(
                "source",
                "n_docs",
                F.coalesce("n_canonical", F.lit(0)).cast("long").alias(
                    "n_canonical"
                ),
                "tok_raw",
                F.coalesce("tok_dedup", F.lit(0)).cast("long").alias(
                    "tok_dedup"
                ),
            )
        )
        sum_t.overwrite(mixture_shift_summary(per_source), txn=txn)

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
