"""Change Data Feed for LakeTable — Delta's ``table_changes`` analogue.

Delta materializes CDF as change files written alongside each commit;
this implementation derives the same row-level feed at READ time from
the manifests, while preserving Delta's cost profile: for each commit it
reads only the slices that commit touched (new data dirs, dirs or files
it dropped), NEVER two full snapshots.
Logical changes fall out of multiset difference — rows that a rewrite
carried through unchanged appear in both the pre and post slice and
cancel in ``exceptAll``, so a copy-on-write rewrite emits exactly the
rows whose values changed.

Emitted schema: the table's columns plus ``_change_type`` (``insert`` /
``delete``, upgraded to ``update_preimage`` / ``update_postimage`` when
``keys`` identify rows) and ``_commit_version`` — Delta's CDF column
contract.

compact/optimize commits emit nothing by construction (pre == post as a
multiset); they are skipped by name so the feed also never pays for
reading a full physical rewrite twice (Delta: ``dataChange=false``).

Scale: per commit, the work is bounded by the data that commit touched —
a daily MERGE on a 100 TB table feeds only the files it rewrote and the
files it wrote through one aggregation (a hash-partition shuffle on the
full row), matching Delta's CDF read cost up to the one rewrite factor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ecommerce_lakehouse_spark.lake.log import (
    _PHYSICAL_OPS,
    Commit,
    check_table_features,
)
from ecommerce_lakehouse_spark.lake.table import _ROW_ID, LakeTable, _read_dvs


def _under_head(snap: dict, head: dict) -> dict:
    """Snapshot ``snap`` (its schema, layout and deletion vectors) served
    under the logical names of ``head``, the table's head manifest (Delta
    CDF does the same for column-mapped tables): pre-rename slices union
    cleanly with post-rename ones."""
    return {
        **snap,
        "column_mapping": head.get("column_mapping", {}),
        "dropped_columns": head.get("dropped_columns", []),
    }


def _read_slice(
    table: LakeTable, snap: dict, path: str, files: list[str] | None
) -> DataFrame | None:
    """Rows of one data dir of snapshot ``snap`` restricted to ``files``
    (None = all), minus the rows ``snap``'s deletion vectors name — a
    slice must reflect what its snapshot READ, or rows a merge-on-read
    DELETE already removed would re-surface as feed deletes on the next
    rewrite."""
    if files is not None and not files:
        return None
    entry = {"path": path, "live_files": None if files is None else sorted(files)}
    return table._scan(snap, [entry])


def _union(frames: list[DataFrame]) -> DataFrame | None:
    frames = [f for f in frames if f is not None]
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _conform(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Give both frames the union of their columns (nulls for missing),
    same order — exceptAll requires positional agreement."""
    import pyspark.sql.functions as F

    for c in b.columns:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
    for c in a.columns:
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None).cast(a.schema[c].dataType))
    cols = sorted(a.columns)
    return a.select(*cols), b.select(*cols)


def _version_slices(
    table: LakeTable, head: dict, c: Commit
) -> tuple[DataFrame | None, DataFrame | None]:
    """(pre, post): rows visible before commit ``c`` but not carried
    into it, and rows newly visible at it — reading only the files and
    deletion vectors it touched (see :meth:`Log.actions_between`),
    each side as its own snapshot read it (rows behind that snapshot's
    deletion vectors were already gone / never visible)."""
    snap_p = _under_head(c.prior, head) if c.prior else None
    snap_c = _under_head(c.manifest, head)
    removed = [_read_slice(table, snap_p, p, files) for p, files in c.removed.items()]
    added = [_read_slice(table, snap_c, p, files) for p, files in c.added.items()]

    # merge-on-read DELETE (and its rollback): rows appear/vanish with no
    # file change — deletion vectors name them by (file, row_index). Read
    # ONLY the files the DV touches (the sidecar is small; its distinct
    # file list is control-plane) and semi-join the ids back to full rows.
    def _dv_rows(dv_paths: list[str], snap: dict) -> list[DataFrame]:
        from urllib.parse import unquote, urlparse

        dv = _read_dvs(table.spark, dv_paths)
        files = [r[0] for r in dv.select(_ROW_ID[0]).distinct().collect()]
        # group by owning data dir, read as a file list under it (hive
        # partition columns survive); both sides normalized (the _metadata
        # path is an absolute percent-encoded URI; manifest paths may be
        # relative). A DV file outside the snapshot's dirs contributes no
        # rows to it.
        owner_by_abs = {os.path.abspath(e["path"]): e["path"] for e in snap["data_dirs"]}
        by_dir: dict[str, list[str]] = {}
        for f in files:
            local = os.path.abspath(unquote(urlparse(f).path))
            owner = next(
                (ap for ap in owner_by_abs if local.startswith(ap.rstrip("/") + "/")),
                None,
            )
            if owner is not None:
                by_dir.setdefault(owner_by_abs[owner], []).append(
                    os.path.relpath(local, owner)
                )
        if not by_dir:
            return []
        rows = table._scan(
            snap,
            [{"path": d, "live_files": rels} for d, rels in by_dir.items()],
            row_ids=True,
        )
        return [rows.join(dv, on=_ROW_ID, how="left_semi").drop(*_ROW_ID)]

    if c.dvs_added and c.prior is not None:  # rows removed FROM the prior snapshot
        removed.extend(_dv_rows(c.dvs_added, snap_p))
    if c.dvs_removed:  # restore() to a pre-delete version: rows come back
        added.extend(_dv_rows(c.dvs_removed, snap_c))
    return _union(removed), _union(added)


def table_changes(
    table: LakeTable,
    starting_version: int,
    ending_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Delta ``table_changes(tbl, start, end)``: one row per logical
    row-level change in commits [starting_version, ending_version], with
    ``_change_type`` and ``_commit_version`` appended. ``keys`` upgrades
    matched delete+insert pairs to update_preimage/update_postimage."""
    import pyspark.sql.functions as F

    head = table._head()
    end = ending_version if ending_version is not None else head["version"]
    # the feed decodes DV sidecars / mapped columns — gate like a read
    check_table_features(head, for_write=False, where=table.root)
    if starting_version < 1 or end > head["version"] or starting_version > end:
        raise ValueError(
            f"change feed range [{starting_version}, {end}] outside table "
            f"history [1, {head['version']}]"
        )
    frames: list[DataFrame] = []
    for c in table.actions_between(starting_version - 1, end):
        if c.operation in _PHYSICAL_OPS:
            continue  # physical-only: pre == post by construction
        pre, post = _version_slices(table, head, c)
        if pre is None and post is None:
            continue  # metadata-only commit
        if pre is None:
            pre = post.limit(0)
        if post is None:
            post = pre.limit(0)
        pre, post = _conform(pre, post)
        # multiset diff in ONE aggregation (not two exceptAll shuffles):
        # tag post +1 / pre -1, sum per whole row — rows a rewrite carried
        # through unchanged net to 0 and vanish; net>0 rows are inserts
        # (with multiplicity), net<0 deletes. Shuffle width = changed data
        # only, bounded by what the commit touched, never a snapshot.
        data_cols = post.columns
        net = (
            post.withColumn("__tag", F.lit(1))
            .unionByName(pre.withColumn("__tag", F.lit(-1)))
            .groupBy(*data_cols)
            .agg(F.sum("__tag").alias("__net"))
            .filter(F.col("__net") != 0)
        )
        if keys:
            # a key appearing on both sides is an update: one window pass
            # over the (small) changed set replaces intersect + two joins
            from pyspark.sql import Window

            w = Window.partitionBy(*keys)
            net = net.withColumn(
                "__has_ins", F.max(F.when(F.col("__net") > 0, 1).otherwise(0)).over(w)
            ).withColumn(
                "__has_del", F.max(F.when(F.col("__net") < 0, 1).otherwise(0)).over(w)
            )
            ctype = F.when(
                F.col("__net") > 0,
                F.when(F.col("__has_del") == 1, F.lit("update_postimage")).otherwise(
                    F.lit("insert")
                ),
            ).otherwise(
                F.when(F.col("__has_ins") == 1, F.lit("update_preimage")).otherwise(
                    F.lit("delete")
                )
            )
        else:
            ctype = F.when(F.col("__net") > 0, F.lit("insert")).otherwise(
                F.lit("delete")
            )
        changed = (
            net.withColumn("_change_type", ctype)
            .withColumn(
                "__copy",
                F.explode(F.expr("array_repeat(1, int(abs(__net)))")),
            )
            .select(*data_cols, "_change_type")
            .withColumn("_commit_version", F.lit(c.version))
        )
        frames.append(changed)
    if not frames:
        empty = table.read(version=end).limit(0)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0)
        )
    return _union(frames)
