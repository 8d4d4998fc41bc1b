"""Incremental materialized-aggregate maintenance (IVM) over a LakeTable
change feed — the lakehouse answer to "keep the gold mart fresh without
re-scanning silver".

The reference rebuilds its gold marts from full silver scans every run
(reference src/glue_etl.py gold-layer jobs); Databricks ships the same
capability as materialized views with incremental refresh. Here the
distributive-aggregate case (COUNT / SUM, and anything derivable from
them, e.g. AVG) is maintained exactly from the change feed:

    delta(group) = Σ  sign(change) * measure      over the CDF slice
    mv'(group)   = mv(group) + delta(group)       (merge; n==0 ⇒ drop row)

with sign = +1 for insert/update_postimage, −1 for delete/update_preimage.
Because the per-group state is a plain sum, the update is associative and
order-free — any CDF slicing lands on the same state, and incremental
refresh is BIT-IDENTICAL to a from-scratch recompute (measures accumulate
in DECIMAL, never double, so no float association drift; locked by
tests/test_mv.py and the ``mv_incremental_refresh`` oracle query).

Refresh bookkeeping rides the table's own Delta-style ``txnAppId`` /
``txnVersion`` pattern (:meth:`LakeTable.last_txn`): the cursor is the
last source version folded in, persisted WITH the refresh commit itself —
a crashed refresh either committed (cursor advanced) or didn't (replay
re-reads the same slice), never double-counts.

Scale: a refresh reads only the CDF slice (touched files per commit, not
snapshots), shuffles one fixed-width (group, delta) frame, and lands as
one merge-shaped pruned commit touching only partitions/files whose
groups changed. The full-recompute path exists only for bootstrap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ecommerce_lakehouse_spark.lake.table import _DELETE, LakeTable

# fixed accumulator type: wide enough that adds never re-derive precision,
# exact at cent granularity, identical between bootstrap and refresh paths
_ACC = "decimal(38,2)"


class MaterializedAggregate:
    """A COUNT+SUM group-by over ``src``, materialized into ``dst`` and
    kept fresh incrementally from ``src``'s change feed.

    ``sum_cols`` maps output column name -> source column; each is summed
    exactly as DECIMAL. The row count is always maintained (``n_rows``) —
    it doubles as the group liveness counter (0 ⇒ the group's row is
    removed, exactly like a view recompute would drop it)."""

    def __init__(
        self,
        src: LakeTable,
        dst: LakeTable,
        group_cols: list[str],
        sum_cols: dict[str, str],
        count_col: str = "n_rows",
    ) -> None:
        self.src = src
        self.dst = dst
        self.group_cols = list(group_cols)
        self.sum_cols = dict(sum_cols)
        self.count_col = count_col
        self.app_id = f"mv:{os_basename(src.root)}:{os_basename(dst.root)}"

    # -- aggregation shapes ------------------------------------------------
    def _measures(self, sign: Column | None = None) -> list[Column]:
        w = sign if sign is not None else F.lit(1)
        cols = [F.sum(w).cast("long").alias(self.count_col)]
        for out, src_col in self.sum_cols.items():
            cols.append(
                F.sum(F.col(src_col).cast("decimal(18,2)") * w)
                .cast(_ACC)
                .alias(out)
            )
        return cols

    def bootstrap(self) -> int:
        """Full recompute from the current snapshot (first refresh, or
        explicit rebuild). Records the cursor with the overwrite."""
        head = self.src.current_version()
        mv = self.src.read(version=head).groupBy(*self.group_cols).agg(*self._measures())
        self.dst.overwrite(mv, txn={"app_id": self.app_id, "version": head})
        return head

    def refresh(self) -> int | None:
        """Fold source commits newer than the cursor into the view.
        Returns the new cursor, or None if already current."""
        head = self.src.current_version()
        cursor = self.dst.last_txn(self.app_id)
        if cursor is None:
            return self.bootstrap()
        if head <= cursor:
            return None
        self.fold(
            self.src.changes(cursor + 1, head),
            txn={"app_id": self.app_id, "version": head},
        )
        return head

    def fold(self, feed: DataFrame, txn: dict) -> int:
        """Fold ONE change-feed slice into the view — the shared core of
        :meth:`refresh` (which slices by cursor) and of streaming
        callers (``streaming.jobs.stream_mv_refresh`` folds each
        microbatch with ``version=batch_id``). A mart must be maintained
        by ONE mode — the two record incompatible txn cursors (source
        version vs batch id) and mixing them double-counts.

        The view is read and merged at one head (Delta's MERGE, as
        :meth:`LakeTable.fold` does): a slice whose ``txn`` that head
        records is skipped before any Spark job, and a fold landing
        after the read raises ConcurrentWriteError instead of being
        replaced. Groups whose count reaches 0 are merged as delete keys
        in the same pass. Returns the version holding the fold."""
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = feed.groupBy(*self.group_cols).agg(*self._measures(sign))
        prior = self.dst._head()
        # the first slice IS the initial state (a from-earliest feed
        # starts with the v1 inserts)
        folded = delta
        if prior["version"]:
            # slim read-modify-write: only groups present in the delta
            tgt = self.dst.read(_snapshot=prior).join(
                delta.select(*self.group_cols).distinct(),
                on=self.group_cols,
                how="left_semi",
            )
            d = delta.select(
                *self.group_cols,
                F.col(self.count_col).alias("__d_n"),
                *[F.col(o).alias(f"__d_{o}") for o in self.sum_cols],
            )
            folded = d.join(tgt, on=self.group_cols, how="left").select(
                *self.group_cols,
                (F.coalesce(F.col(self.count_col), F.lit(0)) + F.col("__d_n"))
                .cast("long")
                .alias(self.count_col),
                *[
                    (
                        F.coalesce(F.col(o), F.lit(0).cast(_ACC))
                        + F.coalesce(F.col(f"__d_{o}"), F.lit(0).cast(_ACC))
                    )
                    .cast(_ACC)
                    .alias(o)
                    for o in self.sum_cols
                ],
            )
        return self.dst._merge(
            prior,
            folded.withColumn(_DELETE, F.col(self.count_col) <= 0),
            self.group_cols,
            txn,
            "mv_refresh",
        )


def os_basename(p: str) -> str:
    import os

    return os.path.basename(os.path.normpath(p))
