"""The LakeTable transaction log: the commit protocol, with no Spark.

Layout:
    <root>/
      _manifest/ v00000001.json ...   (one JSON per committed version)
      _manifest/_LATEST               (roll-forward cache of the head)
      data/v00000001-<uuid>/ ... parquet (optionally partitioned subdirs)

A manifest lists its data dirs as entries ``{path, files, live_files?}``:
``files`` holds each file's footer min/max stats keyed by its
hive-relative path (``col=value/part-....parquet`` on a partitioned
table), and ``live_files``, when present, names the files of the dir the
snapshot still serves. Together with the deletion vectors it is the one
record of which rows are live, in both layouts — a partition value is
only a path segment of a file.

Each operation reads the head manifest ONCE and commits against it (the
Delta snapshot): it writes a fresh, uniquely-named data directory, then
publishes the next version's manifest with an atomic ``os.link`` — the
commit point. The link fails if another writer already claimed that
version, so concurrent writers never overwrite each other (see
ConcurrentWriteError). ``_LATEST`` is moved afterwards as a cache that
readers roll forward over; readers never see partial writes.

:class:`Log` owns that protocol — manifests, heads, commits and their
rebase, ``txn`` replay, time travel and the maintenance ops that only
move manifests — and imports no ``pyspark``; ``LakeTable`` (lake/table.py)
is the Spark data plane over it.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from typing import Iterator, NamedTuple
from urllib.parse import unquote, urlparse


def _crash_hook(point: str) -> None:
    """Fault-injection seam for the commit protocol (no-op in
    production). tests/test_lake_fault_injection.py monkeypatches this
    to abort a commit at a named internal step and asserts the table
    reads back EITHER exactly the pre-commit version (crash before the
    manifest link) OR exactly the committed version (crash after it) —
    never partial state — and that the next writer is never wedged.
    Points, in commit order: ``commit_enter`` (data files written, no
    manifest yet), ``manifest_tmp_written`` (content durable in a temp
    file, version not claimed), ``manifest_linked`` (commit point
    passed, ``_LATEST`` pointer not yet moved)."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a conflicting version this operation
    didn't see.

    LakeTable's commit protocol is optimistic concurrency control in the
    Delta style: an operation reads the head manifest once when it
    starts and validates, writes and commits against it; the commit (a)
    refuses if the table moved past that head and (b) publishes its
    manifest with an atomic ``os.link``, which fails if the version's
    name already exists, so two writers racing for the same version
    number cannot both win. Logical conflict resolution
    (what delta-spark's commit protocol adds on top) is implemented for
    the common cases: blind appends rebase over any winner, and
    merge/delete/update on a partitioned table rebase automatically when
    every intervening winner's touched partitions are disjoint from theirs AND
    the winner's newly-added data cannot affect this operation's read set
    (checked by scanning only the winners' delta dirs). A winner that
    changed table metadata, overlapping writers — and full-table
    rewrites (overwrite/compact/optimize) racing anything — still
    surface this error."""


class SchemaMismatchError(RuntimeError):
    """Incoming rows do not match the table schema under strict mode
    (Delta's default write behavior: new columns and type changes are
    rejected unless schema evolution is explicitly enabled)."""


class ConstraintViolationError(RuntimeError):
    """Incoming rows violate a table CHECK constraint (Delta's
    ``ALTER TABLE .. ADD CONSTRAINT`` invariant enforcement): the write
    is rejected before any commit, listing every violated constraint."""

    def __init__(self, table_root: str, violated: dict[str, str]):
        self.violated = violated
        detail = "; ".join(f"{n}: CHECK ({e})" for n, e in sorted(violated.items()))
        super().__init__(
            f"write to {table_root} violates constraint(s) {detail}"
        )


class UnsupportedTableFeatureError(RuntimeError):
    """The manifest lists a protocol feature this build does not implement
    (Delta's table-features / minReaderVersion contract): refuse LOUDLY
    instead of proceeding — a reader that ignored 'deletion-vectors'
    would resurrect deleted rows; one that ignored 'column-mapping'
    would serve physical column names; a writer that ignored an unknown
    writer feature could corrupt invariants it cannot see."""


# Protocol features this build implements. Features are recorded in the
# manifest the first time a commit exercises the capability and are
# carried forward monotonically (Delta: once a feature is on the table,
# every client must support it). READER features change what bytes mean;
# WRITER features only constrain how commits are produced, so an
# unknown writer feature still permits reads (Delta's reader/writer
# split).
SUPPORTED_READER_FEATURES = frozenset({"deletion-vectors", "column-mapping"})
SUPPORTED_WRITER_FEATURES = frozenset(
    {"check-constraints", "generated-columns", "auto-compaction"}
)


def check_table_features(manifest: dict, *, for_write: bool, where: str) -> None:
    """Gate an operation on the manifest's protocol features. Reads need
    the reader set; writes need BOTH sets (a writer must preserve reader
    features' invariants in the files it produces)."""
    feats = manifest.get("features") or {}
    unknown = set(feats.get("reader", [])) - SUPPORTED_READER_FEATURES
    if for_write:
        unknown |= (
            set(feats.get("writer", []))
            - SUPPORTED_WRITER_FEATURES
            - SUPPORTED_READER_FEATURES
        )
    if unknown:
        mode = "write to" if for_write else "read of"
        raise UnsupportedTableFeatureError(
            f"{mode} {where} requires table feature(s) "
            f"{sorted(unknown)} this build does not implement "
            f"(manifest v{manifest.get('version')}); upgrade the engine "
            "or use a client that supports them"
        )


# physical-only reorganizations: no logical row change (Delta dataChange=false)
_PHYSICAL_OPS = ("compact", "optimize", "optimize-zorder", "auto-compact")

# Table metadata every commit carries from the manifest its operation
# read unless the operation changes it (Delta: metadata lives in the log
# and survives data operations), with the value for tables predating a key.
_METADATA = {
    "partition_by": [],
    # CHECK constraints: {name: sql_expr}, enforced on every write
    "constraints": {},
    # generated columns: {col: sql_expr}, computed/validated on write
    "generated_columns": {},
    # merge-on-read DELETE sidecars: parquet dirs of (__file_path,
    # __row_index) rows the snapshot excludes; rewrites that materialize
    # them commit []
    "deletion_vectors": [],
    # table properties (Delta TBLPROPERTIES): auto_compact,
    # auto_compact_min_files, target_file_bytes, identity, bloom_index
    "properties": {},
    # Delta column mapping: {logical: [physical aliases, newest-first]}
    # applied at read; renames never rewrite files
    "column_mapping": {},
    # dead names (DROP COLUMN): hidden from every read; a dropped name
    # stays dead — see drop_column's contract
    "dropped_columns": [],
    # the PHYSICAL schema every scan passes (StructType JSON, Delta's
    # metaData.schemaString): the columns written since the last
    # overwrite, under their stored names; every commit records one
    "schema": None,
}


def _metadata(manifest: dict) -> dict:
    """The table metadata (:data:`_METADATA` keys) of ``manifest``."""
    return {k: manifest.get(k, d) for k, d in _METADATA.items()}


def _recorded_schema_json(manifest: dict, where: str) -> dict:
    """The schema JSON ``manifest`` records; a manifest without one is
    refused by name — no scan falls back to footer inference."""
    if not manifest.get("schema"):
        raise ValueError(
            f"table {where}: manifest v{manifest.get('version')} records no "
            "schema; rewrite the table with overwrite() or re-adopt its "
            "files with convert_from_parquet()"
        )
    return manifest["schema"]


def _recorded_txns(manifest: dict, where: str) -> dict:
    """The {app_id: version} map ``manifest`` records (Delta's
    SetTransaction state); ``{"version": 0}``, the prior of a first
    commit, records none. A manifest without the map is refused by
    name."""
    if not manifest["version"]:
        return {}
    if "txns" not in manifest:
        raise ValueError(
            f"table {where}: manifest v{manifest['version']} records no "
            "txns; rewrite the table with overwrite() or re-adopt its "
            "files with convert_from_parquet()"
        )
    return manifest["txns"]


def _nullable(t):
    """Spark schema JSON with every field, array element and map value
    nullable — what any parquet scan reports, whatever the writer said."""
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {k: v if k == "metadata" else _nullable(v) for k, v in t.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def _schema_json(schema: dict, partition_by: list[str]) -> dict:
    """The schema a write of a frame with schema JSON ``schema``
    (``df.schema.jsonValue()``) records: hive partition columns last, in
    ``partition_by`` order (where a scan puts them), everything nullable
    — from the frame, never the footers."""
    by_name = {f["name"]: f for f in schema["fields"]}
    fields = [f for f in schema["fields"] if f["name"] not in partition_by]
    fields += [by_name[c] for c in partition_by]
    return _nullable({"type": "struct", "fields": fields})


# type changes a recorded schema widens across (the parquet reader
# upcasts older files' values on scan), narrowest first
_WIDENING = (("byte", "short", "integer", "long"), ("float", "double"))


def _widen(prior: dict, written: dict, where: str) -> dict:
    """Union of two recorded schemas, in the order a merged-schema scan
    lists them: ``prior``'s columns, then the ones ``written`` adds. A
    column written under another type takes the wider one (int -> long,
    float -> double); any other type change raises."""
    fields = [dict(f) for f in prior["fields"]]
    at = {f["name"]: i for i, f in enumerate(fields)}
    for f in written["fields"]:
        i = at.get(f["name"])
        if i is None:
            fields.append(f)
            continue
        old, new = fields[i]["type"], f["type"]
        if old == new:
            continue
        ladder = next((t for t in _WIDENING if old in t and new in t), None)
        if ladder is None:
            raise SchemaMismatchError(
                f"write to {where}: column {f['name']!r} changes type "
                f"{old} -> {new}; overwrite() the table to change a "
                "column's type"
            )
        fields[i]["type"] = max(old, new, key=ladder.index)
    return {"type": "struct", "fields": fields}


def _metadata_conflict(base: dict, winner: dict) -> list[str]:
    """The table metadata a concurrent commit ``winner`` changed since
    ``base``, the head a rebasing commit read: every :data:`_METADATA`
    key but ``deletion_vectors`` (a merge-on-read DELETE changes no
    layout, rule or column), and ``schema`` unless the winner's is a
    widening of the base's (a merge that only added columns)."""
    b, w = _metadata(base), _metadata(winner)
    changed = [
        k for k in _METADATA if k not in ("deletion_vectors", "schema") and b[k] != w[k]
    ]
    if b["schema"] != w["schema"]:
        try:
            widened = _widen(b["schema"], w["schema"], "") == w["schema"]
        except SchemaMismatchError:
            widened = False
        if not widened:
            changed.append("schema")
    return changed


def _read_manifest(root: str, version: int) -> dict:
    """Manifest ``version`` of the table at ``root``. A data-dir entry in
    a retired shape (a bare path, or an ``exclude`` partition mask) is
    refused by name: readers know only ``{path, files, live_files?}``."""
    with open(os.path.join(root, "_manifest", f"v{version:08d}.json")) as f:
        m = json.load(f)
    for e in m["data_dirs"]:
        if not isinstance(e, dict) or "exclude" in e:
            raise ValueError(
                f"table {root}: manifest v{version} holds a data-dir entry "
                f"in a retired shape ({str(e)[:80]}); recreate the table "
                "with overwrite() or re-adopt its files with "
                "convert_from_parquet()"
            )
    return m


def _hive_values(rel: str) -> dict[str, str | None]:
    """Partition column values encoded in a hive-relative file path."""
    vals: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            c, v = seg.split("=", 1)
            vals[c] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return vals


def _row_canon(row: dict) -> tuple:
    """Canonical hashable form of a partition tuple for disjointness checks
    and for comparison against hive-path values: None stays None, bools
    lowercase (hive writes true/false), everything else via str."""
    out = []
    for k in sorted(row):
        v = row[k]
        if isinstance(v, bool):
            v = str(v).lower()
        elif v is not None:
            v = str(v)
        out.append((k, v))
    return tuple(out)


def _dir_partition_tuples(path: str, pcols: list[str]) -> set[tuple]:
    """Partition tuples physically present under ``path`` (hive-style
    ``col=value`` dirs; filesystem walk — control-plane, bounded by
    partition count, never data volume)."""
    found: set[tuple] = set()

    def walk(d: str, depth: int, acc: list):
        if depth == len(pcols):
            found.add(_row_canon(dict(zip(pcols, acc))))
            return
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return
        prefix = pcols[depth] + "="
        for name in names:
            if name.startswith(prefix):
                v = unquote(name[len(prefix):])
                walk(
                    os.path.join(d, name),
                    depth + 1,
                    acc + [None if v == "__HIVE_DEFAULT_PARTITION__" else v],
                )

    walk(path, 0, [])
    return found


def _partition_of(rel: str) -> tuple:
    """Canonical partition tuple of a hive-relative file path (``()`` on
    an unpartitioned table) — the form rebase disjointness compares."""
    return _row_canon(_hive_values(rel))


def _local_path(uri: str) -> str:
    """input_file_name() returns file:// URIs; normalize to a local path."""
    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return uri


def _live_rels(entry: dict, version: int) -> list[str]:
    """Hive-relative paths of the parquet files data-dir ``entry`` of
    manifest ``version`` serves: its ``live_files`` when it lists them,
    else every parquet file under the dir. A dir the manifest names but
    storage lacks raises instead of listing as empty — a rewrite would
    otherwise commit the table without its rows."""
    path = entry["path"]
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"data dir {path} named by manifest v{version} is missing from "
            "storage (vacuumed?); read or stream from a later version, or "
            "fsck(dry_run=False) to drop it"
        )
    if entry.get("live_files") is not None:
        return list(entry["live_files"])
    return sorted(
        os.path.relpath(os.path.join(root, n), path)
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


class Commit(NamedTuple):
    """One commit as :meth:`Log.actions_between` yields it, diffed
    against the manifest before it in the manifests' own terms:
    ``added`` / ``removed`` map a data dir to the files the commit newly
    serves / stopped serving from it (``None``: the whole dir, as its
    entry names it) — first the dirs both manifests name, in ``prior``'s
    order, then ``new_dirs``, the dirs only this commit names, in its
    order. ``dvs_added`` / ``dvs_removed``: deletion-vector sidecars."""

    version: int
    operation: str
    prior: dict | None  # the manifest before this commit; None before v1
    manifest: dict
    added: dict
    removed: dict
    new_dirs: list
    dvs_added: list
    dvs_removed: list

    def files(self, path: str) -> list[str]:
        """The files ``added[path]`` names, listed from storage when it
        names the whole dir (a missing dir raises)."""
        entry = {"path": path, "live_files": self.added[path]}
        return sorted(_live_rels(entry, self.version))


class Log:
    """The commit protocol of the table at ``root`` (see the module
    docstring). Every method reads manifests and moves files; none needs
    a SparkSession."""

    def __init__(self, root: str):
        self.root = root
        self._manifest_dir = os.path.join(root, "_manifest")

    # ---------------- heads and manifests ----------------

    def _latest_path(self) -> str:
        return os.path.join(self._manifest_dir, "_LATEST")

    def _head_version(self) -> int:
        """Head version, 0 for a table with no commit. The commit point is
        the ``os.link`` of a manifest (:meth:`_publish`); ``_LATEST`` is an
        O(1) cache that lags when a writer dies between link and pointer
        swap, so reads roll FORWARD over contiguously-present manifests —
        a lagging pointer never hides a durable commit, and a crashed
        writer never wedges the next (tests/test_lake_fault_injection.py).
        The healed head is written back, best-effort."""
        mdir = self._manifest_dir
        latest = self._latest_path()
        try:
            with open(latest) as f:
                head = int(f.read().strip())
        except FileNotFoundError:
            if not os.path.exists(os.path.join(mdir, "v00000001.json")):
                return 0
            head = 0
        rolled = head
        while os.path.exists(os.path.join(mdir, f"v{rolled + 1:08d}.json")):
            rolled += 1
        if rolled > head:
            try:
                fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
                with os.fdopen(fd, "w") as f:
                    f.write(str(rolled))
                os.replace(tmp, latest)
            except OSError:
                pass  # healing is best-effort; roll-forward re-applies
        return rolled

    def exists(self) -> bool:
        """K6 create-if-absent check (cleaner than the reference's exception
        sniffing at src/glue_etl.py:465-467): a table exists once its
        FIRST manifest is durably linked, whether or not a writer moved
        the ``_LATEST`` cache after it."""
        return self._head_version() > 0

    def current_version(self) -> int:
        """Head version (roll-forward over durable manifests — see
        :meth:`_head_version`). Raises FileNotFoundError on a table with
        no commit."""
        version = self._head_version()
        if not version:
            raise FileNotFoundError(f"no LakeTable commit under {self._manifest_dir}")
        return version

    def _manifest(self, version: int) -> dict:
        return _read_manifest(self.root, version)

    def _head(self, op: str | None = None) -> dict:
        """The head manifest, read ONCE at the start of an operation: the
        op validates, reads (``read(_snapshot=prior)``), writes
        and commits against this one dict (Delta's per-operation
        snapshot), so a concurrent commit surfaces at :meth:`_commit`
        instead of mixing two versions' state into one op. A table with
        no commit yet yields ``{"version": 0}`` — the prior of a first
        commit — or, when ``op`` names an operation that needs an
        existing table, raises its "does not exist yet" ValueError."""
        try:
            version = self.current_version()
        except FileNotFoundError:
            if op is not None:
                raise ValueError(f"{op}: table does not exist yet") from None
            return {"version": 0}
        return self._manifest(version)

    def history(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self._manifest_dir)):
            if name.endswith(".json"):
                out.append(self._manifest(int(name[1:-5])))
        return out

    def version_as_of(self, ts: float) -> int:
        """Delta ``timestampAsOf``: the latest version committed at or
        before ``ts`` (unix seconds). Raises if the table didn't exist
        yet at that time."""
        best = None
        for m in self.history():
            if m["committed_at"] <= ts:
                best = m["version"] if best is None else max(best, m["version"])
        if best is None:
            raise ValueError(
                f"no version of {self.root} existed at or before timestamp {ts}"
            )
        return best

    def last_txn(self, app_id: str) -> int | None:
        """Highest transaction version committed for ``app_id`` (Delta's
        ``txnAppId``/``txnVersion`` idempotent-write pattern), or None.

        Reads ONE manifest: every commit carries the accumulated
        {app_id: version} map (Delta's SetTransaction state). Writers
        need not call it to stay exactly-once: a write whose ``txn`` the
        table already records is skipped (:meth:`_txn_applied`)."""
        return _recorded_txns(self._head(), self.root).get(app_id)

    def _txn_applied(self, manifest: dict, txn: dict | None) -> bool:
        """Whether ``manifest`` records ``txn``'s app at ``txn``'s version
        or later. A write op that reads such a head returns its version
        at once — no data, no commit, no Spark job — so a replayed
        at-least-once batch lands exactly once."""
        if not txn:
            return False
        last = _recorded_txns(manifest, self.root).get(txn["app_id"])
        return last is not None and last >= txn["version"]

    def _file_inventory(self, manifest: dict) -> list[tuple]:
        """(dir, relpath, footer_stats|None) for every live parquet file of
        snapshot ``manifest``, in either layout: relpaths are
        hive-relative (``col=value/part-....parquet`` on a partitioned
        table), so each file carries its partition values (see
        :func:`_live_rels`; a missing dir raises). Control-plane: bounded
        by file count."""
        return [
            (e["path"], rel, e.get("files", {}).get(rel))
            for e in manifest["data_dirs"]
            for rel in _live_rels(e, manifest["version"])
        ]

    def actions_between(self, a: int, b: int) -> Iterator[Commit]:
        """Each commit of versions ``(a, b]`` with what it changed against
        the manifest before it (see :class:`Commit`) — the one walk over
        consecutive manifests, shared by the change feed and the stream
        source. Reads each manifest once; lists a dir only when one of
        two manifests naming it lists its files and the other does not."""
        cur = self._manifest(a) if a else None
        for v in range(a + 1, b + 1):
            prior, cur = cur, self._manifest(v)
            prev = {e["path"]: e.get("live_files") for e in prior["data_dirs"]} if prior else {}
            now = {e["path"]: e.get("live_files") for e in cur["data_dirs"]}
            added, removed = {}, {}
            for path, live_p in prev.items():
                if path not in now:
                    removed[path] = live_p
                    continue
                live_c = now[path]
                if live_p == live_c:
                    continue
                every = (
                    None
                    if live_p is not None and live_c is not None
                    else set(_live_rels({"path": path}, v))
                )
                pf = set(live_p) if live_p is not None else every
                cf = set(live_c) if live_c is not None else every
                if pf - cf:
                    removed[path] = sorted(pf - cf)
                if cf - pf:
                    added[path] = sorted(cf - pf)
            new_dirs = [p for p in now if p not in prev]
            added.update((p, now[p]) for p in new_dirs)
            dvs_p = prior.get("deletion_vectors", []) if prior else []
            dvs_c = cur.get("deletion_vectors", [])
            yield Commit(
                v, cur.get("operation", ""), prior, cur, added, removed, new_dirs,
                [p for p in dvs_c if p not in dvs_p],
                [p for p in dvs_p if p not in dvs_c],
            )

    # ---------------- commit ----------------

    def _commit(
        self,
        prior: dict,
        entries,
        operation: str,
        *,
        touched: list[dict] | None = None,
        txn: dict | None = None,
        written: dict | None = None,
        delta_check=None,
        blind: bool = False,
        max_retries: int = 5,
        **changes,
    ) -> int:
        """Commit ``entries`` as the version after ``prior``, the head the
        operation read (:meth:`_head`); return the version holding it.
        Table metadata (:data:`_METADATA`) is carried from ``prior``
        unless ``changes`` overrides it; ``changes`` may also set
        ``features`` (drop_feature), and features the commit exercises
        re-add themselves, so a manifest never lies about its content.
        ``written``: the schema JSON of the frame this commit wrote, which
        the recorded schema widens to (:func:`_widen`); overwrite passes
        ``schema`` instead. ``touched``: the partition tuples it wrote
        ([] = blind append; None = full-table). ``txn``: Delta's
        {"app_id", "version"} replay marker; a commit that loses its
        version to a head already recording ``txn`` returns that head's
        version and writes nothing, so racing replays land once (the
        loser's data dir is left for :meth:`vacuum`).

        Rebase (Delta's logical conflict resolution): ``entries`` is the
        entry list, or ``make_entries(head)`` rebuilding it against any
        head — ``prior``, then each newer head it rebases onto, where
        ``changes`` ride again and ``written`` widens that head's schema.
        Only a callable rebases, and only a ``blind`` one (an append
        rebases over any winner) or one naming its ``touched``
        partitions: every winner must have recorded a disjoint touched
        list, and ``delta_check(head, new_entries)`` — the newest
        winner's manifest and the dirs the winners added — must clear
        their new rows. A winner that changed table metadata
        (:func:`_metadata_conflict`) conflicts with every commit.
        Anything else raises ConcurrentWriteError: re-read and retry."""
        unknown = set(changes) - set(_METADATA) - {"features"}
        if unknown:
            raise TypeError(f"_commit: not table metadata: {sorted(unknown)}")
        rebases = callable(entries) and (blind or touched is not None)
        for attempt in range(max_retries + 1):
            try:
                return self._publish(
                    prior, entries(prior) if callable(entries) else entries,
                    operation, touched, txn, written, changes,
                )
            except ConcurrentWriteError as err:
                if not rebases or attempt == max_retries:
                    raise
                head = self._head_version()
                # no winner: a manifest race without an advanced head
                # (half-committed writer) leaves nothing to rebase onto
                winners = [self._manifest(v) for v in range(prior["version"] + 1, head + 1)]
                if not winners:
                    raise
                for w in winners:
                    changed = _metadata_conflict(prior, w)
                    if changed:
                        raise ConcurrentWriteError(
                            f"{operation}: concurrent commit v{w['version']} changed "
                            f"table metadata ({', '.join(changed)}); re-read and "
                            "retry so the write is validated against it"
                        ) from err
                if not blind:
                    mine = {_row_canon(r) for r in touched}
                    for w in winners:
                        theirs = w.get("touched_partitions")
                        if theirs is None or mine & {_row_canon(r) for r in theirs}:
                            raise
                    base = {e["path"] for e in prior["data_dirs"]}
                    new = list(dict.fromkeys(
                        e["path"] for w in winners for e in w["data_dirs"]
                        if e["path"] not in base
                    ))
                    if delta_check is not None and new and not delta_check(
                        winners[-1], [{"path": p} for p in new]
                    ):
                        raise
                prior = winners[-1]

    def _publish(self, prior, data_dirs, operation, touched, txn, written, changes) -> int:
        """One attempt of :meth:`_commit`: ``data_dirs`` become the version
        after ``prior``, or ConcurrentWriteError when another writer got
        there first."""
        _crash_hook("commit_enter")
        base = prior["version"]
        current = self._head_version()
        if current != base:
            head = self._head()
            if self._txn_applied(head, txn):
                return head["version"]
            raise ConcurrentWriteError(
                f"{operation}: table advanced v{base} -> v{current} "
                "since this operation read it; re-read and retry"
            )
        # protocol features: gate on what the table already requires, then
        # record (monotonically) what this commit starts requiring
        check_table_features(prior, for_write=True, where=self.root)
        meta = {**_metadata(prior), **changes}
        if not meta["schema"]:
            _recorded_schema_json(prior, self.root)  # raises, naming the table
        if written is not None:
            meta["schema"] = _widen(
                meta["schema"], _schema_json(written, meta["partition_by"]), self.root
            )
        feats = meta.pop("features", prior.get("features", {}))
        reader_feats = set(feats.get("reader", []))
        writer_feats = set(feats.get("writer", []))
        if meta["deletion_vectors"]:
            reader_feats.add("deletion-vectors")
        if meta["column_mapping"] or meta["dropped_columns"]:
            reader_feats.add("column-mapping")
        if meta["constraints"]:
            writer_feats.add("check-constraints")
        if meta["generated_columns"]:
            writer_feats.add("generated-columns")
        if meta["properties"].get("auto_compact"):
            writer_feats.add("auto-compaction")
        version = current + 1
        txns = dict(_recorded_txns(prior, self.root))
        if txn:
            txns[txn["app_id"]] = txn["version"]
        os.makedirs(self._manifest_dir, exist_ok=True)
        manifest = {
            "version": version,
            "operation": operation,
            "data_dirs": data_dirs,
            "touched_partitions": touched,
            "txn": txn,
            # accumulated SetTransaction state: O(1) last_txn lookups
            "txns": txns,
            **meta,
            # protocol features (Delta table-features analogue): reader =
            # "these bytes mean something extra", writer = "commits must
            # uphold an invariant"; monotone — see check_table_features
            "features": {
                "reader": sorted(reader_feats),
                "writer": sorted(writer_feats),
            },
            "committed_at": time.time(),
        }
        mpath = os.path.join(self._manifest_dir, f"v{version:08d}.json")
        # ATOMIC CLAIM: the manifest content is fully written (and synced)
        # to a temp file first, then os.link() publishes it under the
        # version name — link is atomic and fails if the name exists, so
        # exactly one writer wins the version AND a manifest can never be
        # observed truncated (an O_EXCL create-then-dump would leave a
        # partial file owning the version if the writer died mid-dump).
        # The link IS the commit point; the _LATEST pointer below is a
        # cache that current_version() rolls forward over, so dying
        # anywhere after the link still yields a durable, visible commit
        # and dying before it yields exactly the pre-commit table.
        fd, tmp = tempfile.mkstemp(dir=self._manifest_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            _crash_hook("manifest_tmp_written")
            try:
                os.link(tmp, mpath)
            except FileExistsError:
                head = self._head()
                if self._txn_applied(head, txn):
                    return head["version"]
                raise ConcurrentWriteError(
                    f"{operation}: lost the race for v{version} "
                    f"(another writer committed it); re-read and retry"
                ) from None
            # POSIX: a new directory entry is only durable once the
            # PARENT DIRECTORY is fsynced — without this, a power loss
            # after the link could roll back an acknowledged commit
            # (the process-crash fault-injection tests cannot see this;
            # it is the power-failure half of the durability contract)
            dfd = os.open(self._manifest_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        _crash_hook("manifest_linked")
        # move the head cache (temp file then atomic rename); readers
        # roll forward over the linked manifest if this never happens
        fd, tmp = tempfile.mkstemp(dir=self._manifest_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._latest_path())
        return version

    # ---------------- maintenance that only moves manifests ----------------

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF (Delta RESTORE): commit a
        new version whose logical state is exactly ``version``'s — its
        data dirs, deletion vectors and metadata, zero bytes copied. It
        adds a commit and erases none, so time travel keeps the
        intermediate versions. Refused when the target references
        VACUUMed data (Delta's guard). The change feed reports the diff
        to the pre-restore version; the stream source treats it as a
        non-append change (loud unless ignoreChanges)."""
        prior = self._head("restore")
        current = prior["version"]
        if not 1 <= version <= current:
            raise ValueError(
                f"restore: version {version} out of range 1..{current}"
            )
        m = self._manifest(version)
        check_table_features(m, for_write=False, where=self.root)
        missing = [
            p
            for p in (
                [e["path"] for e in m["data_dirs"]]
                + list(m.get("deletion_vectors", []))
            )
            if not os.path.isdir(_local_path(p))
        ]
        if missing:
            raise ValueError(
                f"restore: v{version} references vacuumed data: {missing[:3]}"
                f"{'...' if len(missing) > 3 else ''} — cannot restore past "
                "a vacuum horizon"
            )
        return self._commit(prior, m["data_dirs"], "restore", **_metadata(m))

    def clone_to(self, dest_root: str, version: int | None = None) -> "Log":
        """SHALLOW CLONE (Delta ``CREATE TABLE .. SHALLOW CLONE src
        [VERSION AS OF n]``): a new table whose first commit references
        this table's data dirs at ``version`` by path, zero bytes copied,
        metadata carried. DML on the clone writes its own dirs and its
        vacuum() sweeps only its own data root; vacuum() on the SOURCE
        may still remove files the clone references (Delta's caveat)."""
        m = self._manifest(version) if version is not None else self._head("clone_to")
        dest = Log(dest_root)
        if dest.exists():
            raise ValueError(f"clone destination {dest_root!r} already exists")
        os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)
        dest._commit({"version": 0}, m["data_dirs"], "clone", **_metadata(m))
        return dest

    def vacuum(
        self,
        keep_last: int = 2,
        retention_hours: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """VACUUM analogue (reference docs/data_model.md:310-316): delete
        data dirs and deletion-vector sidecars no protected version
        references. ``retention_hours`` protects every version committed
        in the window (time travel inside it keeps working), with
        ``keep_last`` as a version-count floor on top; without it,
        ``keep_last`` alone decides. A window that would exclude the
        current version raises before touching anything. ``dry_run``
        (Delta ``VACUUM ... DRY RUN``) lists what would go."""
        cur = self.current_version()
        history = self.history()
        versions = [m["version"] for m in history]
        protected: set[int] = set(versions[-keep_last:]) if keep_last else set()
        if retention_hours is not None:
            cutoff = time.time() - retention_hours * 3600.0
            protected |= {
                m["version"]
                for m in history
                if m.get("committed_at", float("inf")) >= cutoff
            }
            if cur not in protected:
                raise ValueError(
                    f"vacuum(retention_hours={retention_hours}, "
                    f"keep_last={keep_last}): the retention window excludes "
                    f"the CURRENT version v{cur}; refusing to reclaim the "
                    "live snapshot. Raise retention_hours or keep_last."
                )
        elif not keep_last:
            protected = {cur}
        live: set[str] = set()
        live_dv: set[str] = set()
        for v in sorted(protected):
            m = self._manifest(v)
            live.update(e["path"] for e in m["data_dirs"])
            live_dv.update(m.get("deletion_vectors", []))
        removed = []
        data_root = os.path.join(self.root, "data")
        if not os.path.isdir(data_root):
            return removed  # converted table with no post-convert commits
        for name in sorted(os.listdir(data_root)):
            d = os.path.join(data_root, name)
            if d not in live:
                if not dry_run:
                    shutil.rmtree(d)
                removed.append(d)
        dv_root = os.path.join(self.root, "_dv")
        if os.path.isdir(dv_root):
            for name in sorted(os.listdir(dv_root)):
                d = os.path.join(dv_root, name)
                if d not in live_dv:
                    if not dry_run:
                        shutil.rmtree(d)
                    removed.append(d)
        return removed

    def fsck(self, dry_run: bool = True) -> dict:
        """FSCK REPAIR TABLE (Delta parity): report the data files and
        dirs the head names by name that storage lacks and, with
        ``dry_run=False``, commit a repair (op ``fsck-repair``, a DATA
        commit: streams raise on it unless ignoreChanges, and a change
        feed crossing it raises) that drops them. A missing deletion
        vector is refused: dropping it would resurrect deleted rows.
        Returns {"missing_files": [(dir, rel)...], "missing_dirs": [...],
        "missing_dvs": [...], "repaired_version": int | None}; no Spark
        job."""
        prior = self._head("fsck")
        missing_files: list[tuple] = []
        missing_dirs: list[str] = []
        repaired: list = []
        for e in prior["data_dirs"]:
            dpath = e["path"]
            if not os.path.isdir(dpath):
                missing_dirs.append(dpath)
                continue
            if e.get("live_files") is not None:
                gone = {
                    r
                    for r in e["live_files"]
                    if not os.path.exists(os.path.join(dpath, r))
                }
                if gone:
                    missing_files.extend((dpath, r) for r in sorted(gone))
                    e2 = dict(e)
                    e2["live_files"] = [
                        r for r in e["live_files"] if r not in gone
                    ]
                    e2["files"] = {
                        r: st
                        for r, st in (e.get("files") or {}).items()
                        if r not in gone
                    }
                    if e2["live_files"]:
                        repaired.append(e2)
                    continue
            repaired.append(e)
        dvs = prior.get("deletion_vectors", [])
        missing_dvs = [p for p in dvs if not os.path.exists(p)]
        report = {
            "missing_files": missing_files,
            "missing_dirs": missing_dirs,
            "missing_dvs": missing_dvs,
            "repaired_version": None,
        }
        if dry_run or not (missing_files or missing_dirs or missing_dvs):
            return report
        if missing_dvs:
            raise ValueError(
                f"fsck: deletion vectors missing from storage {missing_dvs}; "
                "dropping them would resurrect deleted rows — restore the "
                "files or RESTORE the table to a version before the delete"
            )
        report["repaired_version"] = self._commit(prior, repaired, "fsck-repair")
        return report
