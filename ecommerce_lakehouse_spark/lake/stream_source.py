"""LakeTable as a Structured Streaming SOURCE via Spark 4's Python Data
Source API — the analogue of Delta's streaming source
(``spark.readStream.format("delta")``; the reference depends on
delta-spark, requirements.txt:3, whose tables are tailable the same way).

Semantics (Delta-parity):

- **Offsets are table versions**: ``{"version": N}`` means every row
  committed through manifest vN has been emitted, so checkpointed
  restarts resume exactly-once from the next commit.
- **A microbatch emits the rows ADDED in (start, end]**: an append's new
  data dir(s), read file-parallel on the executors as Arrow record
  batches (one ``InputPartition`` per parquet file — the driver touches
  only the tiny JSON manifests, never row data).
- **Non-append data commits raise by default** (merge / delete / update /
  overwrite / restore / generated-column backfill), exactly like Delta's
  source. ``ignoreChanges=true`` re-emits the rewritten rows instead
  (Delta's documented contract: downstream deduplicates). The
  table-creating commit (v1) counts as initial data, not a change.
- **compact/optimize are skipped**: physical reorganizations with no
  logical row change (Delta's ``dataChange=false`` files).
- **Metadata-only commits** (add/drop constraint) add no data dirs and
  emit nothing.

Options: ``path`` (table root, required), ``startingVersion`` (int, or
``"earliest"`` / ``"latest"``; default ``latest`` = only commits after
stream start, the Kafka ``startingOffsets=latest`` posture),
``ignoreChanges`` (default false), ``readChangeFeed`` (default false:
rows arrive with ``_change_type``/``_commit_version`` appended, Delta's
streaming CDF shape; append commits only — rewrites need the diff
compute of the batch ``LakeTable.changes()`` API and raise),
``maxCommitsPerTrigger`` (int, default unlimited: Delta's
``maxFilesPerTrigger`` analogue at this source's offset granularity —
each microbatch advances at most N commits, so a stream catching up on
deep history paces itself instead of loading everything into one batch;
best-effort like Delta's, and ``Trigger.AvailableNow`` runs snapshot
latestOffset once, so a capped availableNow drain advances N commits per
invocation and resumes from the checkpoint on the next).

Scale: offset planning is manifest-file reads on the driver; row bytes
move only executor-side (pyarrow, one task per file). Requires storage
visible to the executors — same contract as every lake read.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ecommerce_lakehouse_spark.lake.log import (
    _PHYSICAL_OPS,
    Log,
    _hive_values,
    check_table_features,
)
from ecommerce_lakehouse_spark.lake.table import _recorded_schema


def _snapshot_arrow_schema(root: str):
    """Arrow schema of the head snapshot: the schema its manifest records
    (hive partition columns included) — the one LakeTable.read() scans
    with, so the two always agree. No data file is opened, and a head
    with no data dirs (a DELETE removed every row) has one too."""
    from pyspark.sql.pandas.types import to_arrow_schema

    log = Log(root)
    m = log._manifest(log.current_version())
    # the stream decodes snapshot bytes like any reader — gate on
    # protocol features before serving a schema for them
    check_table_features(m, for_write=False, where=root)
    return to_arrow_schema(_recorded_schema(m, root))


class _LakeFilePartition(InputPartition):
    def __init__(self, path: str, rel: str, version: int = 0):
        self.path = path
        self.rel = rel
        self.version = version


def _file_batches(partition: _LakeFilePartition, target) -> Iterator:
    """One parquet file → arrow batches conformed to the stream schema:
    present columns cast, hive partition values materialized as constant
    columns, columns this file predates filled with nulls (the recorded
    schema holds every column written since the last overwrite — the
    nulls LakeTable.read's scans serve too)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.path)
    hive = _hive_values(partition.rel)
    n = len(tbl)
    cols = []
    for field in target:
        # a physically-present column ALWAYS wins, even for the CDF
        # names: in readChangeFeed mode _change_type/_commit_version are
        # appended to the schema and never stored in files, but a plain
        # stream of a CDC EVENT LOG legitimately carries its own
        # _change_type data column — clobbering it with the "insert"
        # constant silently rewrote delete/update verbs (caught by
        # test_stream_apply_changes_scd2)
        if field.name in tbl.column_names:
            col = tbl.column(field.name).cast(field.type).combine_chunks()
        elif field.name == "_change_type":  # readChangeFeed: appends = inserts
            col = pa.array(["insert"] * n, pa.string())
        elif field.name == "_commit_version":
            col = pa.array([partition.version] * n, pa.int32())
        elif field.name in hive and hive[field.name] is not None:
            col = pa.array([hive[field.name]] * n, pa.string()).cast(field.type)
        else:
            col = pa.nulls(n, field.type)
        cols.append(col)
    yield from pa.table(cols, schema=target).to_batches()


class LakeTableStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        root = options.get("path")
        if not root:
            raise ValueError("laketable source requires .option('path', <table root>)")
        self._root = root
        self._log = Log(root)
        self._ignore_changes = str(options.get("ignorechanges", "false")).lower() == "true"
        self._cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        sv = str(options.get("startingversion", "latest")).lower()
        if sv == "latest":
            self._start = self._log.current_version()
        elif sv == "earliest":
            self._start = 0
        else:
            # startingVersion=N means "emit commit N onward"
            self._start = max(0, int(sv) - 1)
        self._arrow_schema = to_arrow_schema(schema)
        mct = options.get("maxcommitspertrigger")
        self._max_commits = int(mct) if mct else None
        self._last_end: int | None = None

    # -- driver-side planning ------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        actual = self._log.current_version()
        if self._max_commits is None:
            return {"version": actual}
        # rate limit (Delta maxFilesPerTrigger analogue, commit granule):
        # advance at most N commits past the last planned end. After a
        # restart the base is the configured start until the first
        # partitions() call reveals the checkpointed position.
        base = self._last_end if self._last_end is not None else self._start
        return {"version": min(actual, base + self._max_commits)}

    def partitions(self, start: dict, end: dict):
        # rate-limit base: never below the checkpointed position we just
        # learned (a freshly-restarted reader only knows startingVersion
        # until the engine reveals the real start here)
        known = max(start["version"], end["version"])
        self._last_end = (
            known if self._last_end is None else max(self._last_end, known)
        )
        parts: list[_LakeFilePartition] = []
        for c in self._log.actions_between(start["version"], end["version"]):
            m, v, op = c.manifest, c.version, c.operation
            if m.get("column_mapping") or m.get("dropped_columns"):
                # this source serves files under their PHYSICAL schema
                # (pyarrow reads, no mapping layer): streaming across a
                # rename/drop would mix schemas mid-stream. Honest raise;
                # consume column-mapped tables via changes()/read().
                raise ValueError(
                    f"laketable streaming source: {self._root} uses column "
                    "mapping (rename/drop without rewrite) from "
                    f"v{m['version']}; the file-level stream cannot serve "
                    "renamed columns — use batch changes() or read()"
                )
            if c.dvs_added:
                # merge-on-read DELETE: rows disappeared without any file
                # change — a source cannot emit a retraction. ignoreChanges
                # doubles as Delta's ignoreDeletes here (skip the commit).
                if not self._ignore_changes or self._cdf:
                    raise ValueError(
                        f"laketable stream source at {self._root}: commit "
                        f"v{v} added deletion vectors (merge-on-read "
                        "DELETE); a stream cannot retract rows. Set "
                        "ignoreChanges=true to skip delete-only commits, "
                        "or use the batch LakeTable.changes() API."
                    )
            if op not in _PHYSICAL_OPS and not c.new_dirs:
                # file-list-only data commit: rows appeared or
                # disappeared with no new dir to emit (e.g. a DELETE that
                # emptied every file it touched, or a RESTORE that only
                # re-listed files)
                changed = list(dict.fromkeys([*c.removed, *c.added]))
                if changed and (not self._ignore_changes or self._cdf):
                    raise ValueError(
                        f"laketable stream source at {self._root}: commit "
                        f"v{v} ({op!r}) changed row visibility without "
                        f"adding files (in {', '.join(changed)}); a stream "
                        "cannot emit retractions. Set ignoreChanges=true "
                        "to skip such commits, or use the batch "
                        "LakeTable.changes() API."
                    )
            if not c.new_dirs or op in _PHYSICAL_OPS:
                continue
            if m.get("deletion_vectors") and (v == 1 or op != "append"):
                raise ValueError(
                    f"laketable stream source at {self._root}: commit v{v} "
                    f"({op!r}) introduces data dirs while the snapshot "
                    "carries deletion vectors — raw file emission would "
                    "include deleted rows. compact() the table first."
                )
            if op != "append" and v > 1:
                if self._cdf:
                    # a rewrite's deletes/updates need the diff compute the
                    # batch API runs; a source partition can't — be honest
                    raise ValueError(
                        f"laketable stream source at {self._root}: commit "
                        f"v{v} is a {op!r}; readChangeFeed streams serve "
                        "append commits only (appends = inserts). Use the "
                        "batch API LakeTable.changes() for rewrite commits."
                    )
                if not self._ignore_changes:
                    raise ValueError(
                        f"laketable stream source at {self._root}: commit v{v} is a "
                        f"{op!r} (data rewrite); a streaming source tails appends. "
                        "Set ignoreChanges=true to re-emit rewritten rows "
                        "(downstream must dedup), or start from a later "
                        "startingVersion."
                    )
            # the files each new dir serves (its live_files when listed),
            # as LakeTable.read() does; a vacuumed dir raises
            for path in c.new_dirs:
                for rel in c.files(path):
                    parts.append(_LakeFilePartition(os.path.join(path, rel), rel, v))
        return parts

    # -- executor-side read --------------------------------------------
    def read(self, partition: _LakeFilePartition):
        yield from _file_batches(partition, self._arrow_schema)

    def commit(self, end: dict) -> None:
        # manifests are the source of truth and vacuum() governs their
        # retention; nothing to release per-microbatch
        pass


class LakeTableDataSource(DataSource):
    """``spark.dataSource.register(LakeTableDataSource)`` then
    ``spark.readStream.format("laketable").option("path", root).load()``.

    Batch reads stay on :meth:`LakeTable.read` — the JVM parquet scan
    with manifest pruning is strictly better than a Python-side batch
    reader, so this source intentionally implements only the streaming
    half (the capability the lake layer lacked)."""

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def schema(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        root = self.options.get("path")
        if not root:
            raise ValueError("laketable source requires .option('path', <table root>)")
        sch = _snapshot_arrow_schema(root)
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            # Delta CDF column contract (matches LakeTable.changes)
            sch = sch.append(pa.field("_change_type", pa.string())).append(
                pa.field("_commit_version", pa.int32())
            )
        return from_arrow_schema(sch)

    def streamReader(self, schema):
        return LakeTableStreamReader(self.options, schema)


def register_lake_source(spark) -> None:
    """Idempotent registration of the ``laketable`` streaming format."""
    spark.dataSource.register(LakeTableDataSource)
