"""Logical MERGE semantics (reference src/glue_etl.py:442-458: Delta
``whenMatchedUpdateAll().whenNotMatchedInsertAll()``).

delta-spark is not available in this environment, so MERGE is expressed as
pure DataFrame algebra — updates win on matched keys, unmatched target rows
pass through. ``LakeTable`` (lake/table.py) supplies the storage side
(copy-on-write parquet + manifest versioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """``MERGE INTO target USING updates ON keys WHEN MATCHED UPDATE ALL
    WHEN NOT MATCHED INSERT ALL`` as: updates ∪ (target ⟕anti updates).

    Precondition (same as Delta's): ``updates`` must be unique per key —
    dedup upstream (reference relies on this implicitly: dedup G:404 always
    precedes merge G:452; SURVEY §7.5).

    Schema evolution (Delta ``spark.databricks.delta.schema.autoMerge``
    semantics): columns present on only one side survive the union —
    update-only columns appear as NULL on untouched target rows, and
    target-only columns as NULL on update rows.

    Scale note: one shuffle on the merge keys for the anti-join; with both
    sides bucketed/pre-partitioned by key it is co-partitioned. The
    anti-join side prunes to key columns only (column pruning keeps the
    shuffle narrow), and a small batch is broadcast instead.

    ``updates`` is read twice (the anti-join keys and the union), so a
    non-deterministic source must be materialized first:
    ``LakeTable.merge`` passes its batch already materialized by one
    ``localCheckpoint`` pass, which makes both reads — and its
    touched-file discovery — see the same rows.
    """
    untouched = target.join(updates.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(untouched, allowMissingColumns=True)


def merge_aggregate(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Aggregate-combining MERGE — the continuous-aggregate refresh
    primitive (hypertable-style rollup): matched keys COMBINE additive
    metrics (sum) instead of replacing, unmatched keys insert.

    This keeps a time-bucketed rollup table incrementally correct while
    only ever touching the buckets present in the delta: a day's new
    events update a handful of (window, type) rows, never a full
    recompute. Additive metrics (counts, sums) merge exactly; averages
    must be stored as (sum, count) pairs and derived at read time.

    Keys match null-safely, as a groupBy groups them: a NULL key's
    partials combine like any other key's.

    Scale: the delta side is pre-aggregated to the rollup grain before
    the merge (map-side partials), so the join is rollup-row × delta-row,
    both tiny relative to the fact stream."""
    import pyspark.sql.functions as F

    t = target.alias("t")
    u = updates.alias("u")
    other_cols = [c for c in target.columns if c not in keys and c not in sum_cols]
    on = [F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}")) for k in keys]
    combined = t.join(u, on=on, how="full_outer").select(
        *[F.coalesce(F.col(f"t.{k}"), F.col(f"u.{k}")).alias(k) for k in keys],
        *[
            (
                F.coalesce(F.col(f"t.{c}"), F.lit(0)) + F.coalesce(F.col(f"u.{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
        *[F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c) for c in other_cols],
    )
    return combined.select(*target.columns)


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Snapshot diff between two table versions (CDC-style change feed
    derived from time travel): emits one row per changed key with
    change_type ∈ {insert, delete, update}.

    Scale: two shuffles on the key (full-outer join + value comparison);
    value equality compares a struct of non-key columns, so wide rows
    hash once instead of column-by-column."""
    import pyspark.sql.functions as F

    val_cols = [c for c in old.columns if c not in keys]
    o = old.select(*keys, F.struct(*val_cols).alias("__old")).alias("o")
    n = new.select(*keys, F.struct(*val_cols).alias("__new")).alias("n")
    j = o.join(n, on=keys, how="full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("__old").isNull(), F.lit("insert"))
            .when(F.col("__new").isNull(), F.lit("delete"))
            .when(F.col("__old") != F.col("__new"), F.lit("update")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type", "__old", "__new")
    )
