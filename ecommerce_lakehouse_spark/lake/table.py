"""LakeTable — a minimal lakehouse table format on plain parquet.

Re-expresses the reference's Delta usage (SURVEY §2.2 K1-K7) without
delta-spark (not installed here): versioned copy-on-write commits,
partitioned writes, append/overwrite/merge, and time-travel reads by
version.

The manifest layout and the commit protocol live in lake/log.py
(:class:`~ecommerce_lakehouse_spark.lake.log.Log`, no Spark);
``LakeTable`` is the Spark data plane over it: scans under the recorded
schema, writes, constraints, generated and identity columns, bloom
indexes and the rewrites of DML and compaction. Copy-on-write DML finds
the files it touches, rewrites them into a new dir and commits the rest
by name (:meth:`LakeTable._rewrite_touched`).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.lake.log import (  # noqa: F401 (re-exported errors)
    ConcurrentWriteError,
    ConstraintViolationError,
    Log,
    SchemaMismatchError,
    UnsupportedTableFeatureError,
    _dir_partition_tuples,
    _hive_values,
    _local_path,
    _metadata,
    _partition_of,
    _recorded_schema_json,
    _schema_json,
    check_table_features,
)
from ecommerce_lakehouse_spark.lake.merge import merge_upsert


def _recorded_schema(manifest: dict, where: str):
    """The StructType ``manifest`` records (see
    :func:`~ecommerce_lakehouse_spark.lake.log._recorded_schema_json`)."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(_recorded_schema_json(manifest, where))


# parquet row identity (_metadata file_path + row_index), as
# LakeTable._scan attaches it and deletion-vector sidecars store it
_ROW_ID = ["__file_path", "__row_index"]
_DV_SCHEMA = "__file_path string, __row_index long"

# flag column of a merge batch (apply_changes, MV refresh): a row where
# it is true removes its key instead of upserting it, in the same commit
_DELETE = "__delete"


def _read_dvs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The (file, row) ids named by the deletion-vector sidecars ``paths``."""
    return spark.read.schema(_DV_SCHEMA).parquet(*paths)



def _apply_column_mapping(df, manifest: dict):
    """Serve a physical frame under the LOGICAL schema of ``manifest``
    (Delta column mapping): each logical column is the newest-first
    COALESCE of whatever names (logical + physical aliases) the frame
    carries — once a write follows a rename, the recorded schema holds
    BOTH names, and a scan null-fills the one a file lacks, so coalesce
    reassembles exactly one value per row, in the oldest name's position.
    Single-name frames reduce to a rename. Dead (dropped) names are
    hidden. Pure projection."""
    import pyspark.sql.functions as F

    mapping = manifest.get("column_mapping", {})
    dropped = manifest.get("dropped_columns", [])
    for logical, aliases in mapping.items():
        cols = set(df.columns)
        present = [c for c in [logical] + list(aliases) if c in cols]
        if not present or present == [logical]:
            continue
        if len(present) == 1:
            df = df.withColumnRenamed(present[0], logical)
        else:
            at = next(i for i, c in enumerate(df.columns) if c in present)
            rest = [c for c in df.columns if c not in present]
            df = df.select(
                *rest[:at],
                F.coalesce(*[F.col(c) for c in present]).alias(logical),
                *rest[at:],
            )
    dead = [c for c in dropped if c in df.columns]
    if dead:
        df = df.drop(*dead)
    return df


def _collect_file_stats(d: str) -> dict:
    """Per-file column min/max from parquet FOOTERS (footer-only I/O — the
    local analogue of Delta's data-skipping stats, which are likewise
    collected at write time and stored in the log). Only primitive
    int/float/str/bool columns are recorded; anything else is skipped and
    later treated as "unknown → cannot prune". Keys are paths relative to
    ``d``. On a real cluster this walk runs against the object store via
    the same listing the commit already performs; cost is one footer read
    per written file, amortized into the write."""
    import pyarrow.parquet as pq

    files: dict[str, dict] = {}
    for root, _, names in os.walk(d):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(root, name)
            md = pq.ParquetFile(fp).metadata
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            seen_cols: set[str] = set()
            bad: set[str] = set()
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    c = col.path_in_schema
                    if "." in c:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        bad.add(c)
                        continue
                    mn, mx = st.min, st.max
                    if not isinstance(mn, (int, float, str, bool)) or not isinstance(
                        mx, (int, float, str, bool)
                    ):
                        bad.add(c)
                        continue
                    seen_cols.add(c)
                    mins[c] = mn if c not in mins else min(mins[c], mn)
                    maxs[c] = mx if c not in maxs else max(maxs[c], mx)
            files[os.path.relpath(fp, d)] = {
                c: [mins[c], maxs[c]] for c in seen_cols - bad
            }
    return files


_BLOOM_SIDECAR = "_bloom.json"


def _bloom_size(n_keys: int, fpp: float) -> tuple[int, int]:
    """Classic Bloom sizing: m bits and k hashes for ``n_keys`` expected
    distinct keys at false-positive rate ``fpp`` (same formula Delta's
    bloom index uses from its ``numItems``/``fpp`` table properties)."""
    import math

    m = max(64, int(math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64  # whole 64-bit words
    k = max(1, min(16, round(m / n_keys * math.log(2))))
    return m, k


def _bloom_test(b64: str, positions: list[int]) -> bool:
    """Membership test: True unless some probe bit is UNSET (definitely
    absent). All-set means "maybe present" — never a false negative."""
    import base64

    bits = base64.b64decode(b64)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def _ranges_intersect(file_stats: dict | None, key_ranges: dict) -> bool:
    """True unless the footer stats PROVE the file cannot contain any key
    in ``key_ranges`` (missing stats → must assume intersecting)."""
    if not file_stats:
        return True
    for c, (lo, hi) in key_ranges.items():
        fs = file_stats.get(c)
        if not fs or fs[0] is None or fs[1] is None:
            continue
        try:
            if (lo is not None and fs[1] < lo) or (hi is not None and fs[0] > hi):
                return False
        except TypeError:  # incomparable types across engines — no pruning
            continue
    return True



def _written(df, partition_by: list[str]) -> dict:
    """The one-dir snapshot a fresh write of ``df`` scans back as."""
    return {"schema": _schema_json(df.schema.jsonValue(), partition_by), "partition_by": partition_by}


def _files_entries(files: list[tuple]) -> list[dict]:
    """Scan entries naming ``files`` ((dir, rel, ...) inventory tuples):
    one per data dir, ``basePath`` at the dir so hive partition values
    come from the path. Files with no hive segment share ONE entry under
    their common directory instead, so they scan as one relation across
    data dirs (Spark's partition discovery refuses that once the paths
    carry partition values under different dirs)."""
    if files and not any(_hive_values(f[1]) for f in files):
        paths = [os.path.join(f[0], f[1]) for f in files]
        base = os.path.commonpath([os.path.dirname(p) for p in paths])
        return [{"path": base, "live_files": [os.path.relpath(p, base) for p in paths]}]
    by_dir: dict[str, list[str]] = {}
    for f in files:
        by_dir.setdefault(f[0], []).append(f[1])
    return [{"path": d, "live_files": rels} for d, rels in by_dir.items()]


class LakeTable(Log):
    def __init__(self, spark: SparkSession, root: str):
        super().__init__(root)
        self.spark = spark

    def _new_data_dir(self, prior: dict) -> str:
        # Unique per writer (Delta-style GUID naming): two racing writers
        # must never share a data dir, or the loser's mode("overwrite")
        # write would clobber the winner's already-committed files before
        # the loser's _commit even runs. The manifest stores paths, so
        # nothing depends on version-number naming.
        n = prior["version"] + 1
        return os.path.join(self.root, "data", f"v{n:08d}-{uuid.uuid4().hex[:12]}")

    @staticmethod
    def _surviving_file_entries(untouched: list[tuple]) -> list:
        """Manifest entries carrying the untouched files forward by name —
        the files themselves are never copied (byte-identical pass-through,
        like Delta keeping unrewritten AddFiles in the log)."""
        by_dir: dict[str, list] = {}
        for dpath, rel, stats in untouched:
            by_dir.setdefault(dpath, []).append((rel, stats))
        return [
            {
                "path": dpath,
                "live_files": [r for r, _ in rels],
                "files": {r: s for r, s in rels if s},
            }
            for dpath, rels in by_dir.items()
        ]

    def _rewrite(self, prior: dict, touched: list[tuple], df: DataFrame):
        """Write ``df`` — the new content of the ``touched`` inventory
        files of ``prior`` — into a fresh data dir. Returns
        ``(entries, partitions, entry)``: ``entries(head)`` builds the
        manifest entry list against ``head`` (``prior``, or a newer head
        a rebase moves to): every live file of ``head`` but the touched
        ones, carried by name, plus the new entry unless the rewrite left
        no rows. It raises ConcurrentWriteError when a touched file is no
        longer live in ``head`` (a winner rewrote it). ``partitions``: the
        hive partitions of the touched files plus those the new dir
        holds (a filesystem walk, no job) — the commit's touched list;
        None on an unpartitioned table, whose rewrites never rebase."""
        entry = self._write_dir_entry(df, prior)
        pcols = prior["partition_by"]
        partitions = None
        if pcols:
            found = {_partition_of(f[1]) for f in touched}
            found |= _dir_partition_tuples(entry["path"], pcols)
            partitions = [dict(t) for t in sorted(found, key=str)]
        gone = {os.path.join(f[0], f[1]) for f in touched}
        new = [entry] if entry["files"] else []

        def entries(head: dict) -> list:
            inv = self._file_inventory(head)
            kept = [f for f in inv if os.path.join(f[0], f[1]) not in gone]
            if len(inv) - len(kept) != len(gone):
                raise ConcurrentWriteError(
                    f"a concurrent commit v{head['version']} rewrote a file "
                    "this operation rewrote; re-read and retry"
                )
            return self._surviving_file_entries(kept) + new

        return entries, partitions, entry

    def _rewrite_touched(
        self,
        prior: dict,
        operation: str,
        matches,
        rewrite,
        *,
        delta_check,
        key_ranges: dict | None = None,
        always: bool = False,
        txn: dict | None = None,
    ) -> int:
        """The copy-on-write DML path of both layouts (Delta's
        find-touched-files, rewrite, commit): footer stats narrow the
        files of ``prior`` to ``key_ranges``; one column-pruned scan
        with no exchange finds the files holding a row of
        ``matches(scan)`` (:meth:`_files_holding`);
        ``rewrite(scan of those files)`` is written to a fresh data dir;
        the commit carries every other file by name, byte-identical,
        plus the new entry (see :meth:`_rewrite`). Nothing matched and
        not ``always``: no commit, ``prior``'s version is returned.
        ``delete`` and ``update`` thus run 2 Spark jobs, the discovery
        scan and the write; ``merge`` adds the pass that materializes its
        batch and a broadcast of the batch keys for each join.

        Concurrency: an unpartitioned table's rewrite never rebases. A
        partitioned one records its touched partitions and rebases over
        winners whose recorded partitions are disjoint and whose new rows
        — a scan of the dirs they added — pass ``delta_check(frame)``
        (see :meth:`Log._commit`), rebuilding its entries from the new
        head."""
        inventory = self._file_inventory(prior)
        candidates = [f for f in inventory if _ranges_intersect(f[2], key_ranges or {})]
        touched = self._files_holding(prior, candidates, matches)
        if not touched and not always:
            return prior["version"]
        out = rewrite(self._scan(prior, _files_entries(touched)))
        entries, partitions, entry = self._rewrite(prior, touched, out)
        return self._commit(
            prior, entries, operation,
            touched=partitions,
            delta_check=lambda head, new: delta_check(self._scan(head, new)),
            txn=txn,
            written=out.schema.jsonValue(),
            **self._identity_changes(prior, [entry["path"]]),
        )

    # ---------------- CHECK constraints (Delta invariants) ----------------

    def constraints(self) -> dict[str, str]:
        """Current CHECK constraints ({name: sql_expr})."""
        return self._head().get("constraints", {})

    @staticmethod
    def _violation_flags(cons: dict[str, str], rows=None) -> list:
        """One aggregate per constraint of ``cons``, in name order, that
        is 1 when some row (of those where the Column ``rows`` holds, by
        default all) violates it (NULL-evaluating rows violate,
        matching Delta — a CHECK must be provably TRUE). An ``agg`` or
        an ``observe`` computes them; :meth:`_raise_violations` reads the
        result."""
        import pyspark.sql.functions as F

        def violated(expr: str):
            bad = (~F.coalesce(F.expr(expr), F.lit(False))).cast("int")
            return bad if rows is None else F.when(rows, bad)

        return [
            F.max(violated(cons[n])).alias(f"c{i}") for i, n in enumerate(sorted(cons))
        ]

    def _raise_violations(self, flags, cons: dict[str, str]) -> None:
        """Raise ConstraintViolationError naming every constraint whose
        :meth:`_violation_flags` value in ``flags`` (a Row or a dict) is
        set."""
        violated = {
            n: cons[n] for i, n in enumerate(sorted(cons)) if (flags[f"c{i}"] or 0) > 0
        }
        if violated:
            raise ConstraintViolationError(self.root, violated)

    def _enforce_constraints(self, df: DataFrame, cons: dict[str, str]) -> None:
        """Reject ``df`` if any row violates any constraint in ``cons``
        (the op's prior manifest's, plus any the write sets in the same
        commit).

        One Spark job regardless of constraint count: a single aggregate
        computes every :meth:`_violation_flags` flag. At 100 TB this is a
        map-side-combined boolean agg over the incoming batch only, never
        the table.

        Determinism caveat: validating a DataFrame re-evaluates its plan,
        so for a non-deterministic input the rows checked here may differ
        from the rows a later write materializes. The bulk-ingest paths
        (overwrite/append) therefore validate AFTER the write via
        ``_enforce_constraints_on_entry`` (the written bytes themselves),
        and ``merge`` computes the flags in the one pass that
        materializes its batch (:meth:`_materialize_observed`), so the
        rows checked are the rows written. Only ``update`` still checks
        before its write: its input is a scan of the touched files, and
        only a non-deterministic assignment could make the check and the
        write see different rows."""
        if cons:
            self._raise_violations(df.agg(*self._violation_flags(cons)).first(), cons)

    def _materialize_observed(
        self, df: DataFrame, keys: list[str], cons: dict[str, str]
    ) -> tuple[DataFrame, dict]:
        """``df`` evaluated once, by one ``localCheckpoint`` pass (one
        Spark job, plus the shuffle stages of ``df``'s own plan), and
        what that pass observed: each key's min and max over every row
        (``{k}__lo`` / ``{k}__hi``) and the :meth:`_violation_flags` of
        ``cons`` over the rows not flagged :data:`_DELETE`. Every later
        read of the returned frame reads the materialized rows, so a
        non-deterministic source cannot differ between the steps of a DML
        op (Delta's ``merge.materializeSource``)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        upserts = ~F.col(_DELETE) if _DELETE in df.columns else None
        obs = Observation()
        out = df.observe(
            obs,
            *[F.min(k).alias(f"{k}__lo") for k in keys],
            *[F.max(k).alias(f"{k}__hi") for k in keys],
            *self._violation_flags(cons, upserts),
        ).localCheckpoint()
        return out, obs.get

    def _enforce_constraints_on_entry(
        self, entry: dict, written: dict, cons: dict[str, str]
    ) -> None:
        """Enforce CHECK constraints on the rows actually WRITTEN — a
        re-scan of the freshly-written data dir, under the ``written``
        snapshot (see :func:`_written`) — instead of the incoming
        DataFrame. A non-deterministic input (rand()-derived columns, a
        source that changed between jobs) can evaluate differently in a
        pre-write validation job vs the write itself, letting a
        violating row slip into the commit; Delta closes this by
        enforcing invariants during the write, and scanning the written
        bytes BEFORE publishing the manifest gives the same guarantee:
        what is validated is bit-identical to what readers will see
        (including hive-partition round-tripping). On violation the
        orphan dir is removed and nothing is committed."""
        if not cons or not entry["files"]:  # empty batch: nothing to violate
            return
        try:
            self._enforce_constraints(self._scan(written, [entry]), cons)
        except ConstraintViolationError:
            import shutil

            shutil.rmtree(entry["path"], ignore_errors=True)
            raise

    def generated_columns(self) -> dict[str, str]:
        """Current generated-column definitions ({col: sql_expr})."""
        return self._head().get("generated_columns", {})

    def add_generated_column(self, col: str, expr: str) -> int:
        """Delta ``GENERATED ALWAYS AS (expr)``: registers ``col`` so
        every future write either computes it (when the writer omits it)
        or validates the provided values against the expression (writer-
        supplied values that disagree are rejected — Delta semantics).
        Existing rows are backfilled in a copy-on-write commit."""
        prior = self._head("add_generated_column")
        import pyspark.sql.functions as F

        gen = dict(prior.get("generated_columns", {}))
        if col in gen:
            raise ValueError(f"generated column {col!r} already defined")
        snap = self.read(_snapshot=prior)
        if col in snap.columns:
            raise ValueError(
                f"column {col!r} already exists with writer-authored data; "
                "a generated column cannot shadow it (Delta rejects this too)"
            )
        gen[col] = expr
        backfilled = snap.withColumn(col, F.expr(expr))
        entry = self._write_dir_entry(backfilled, prior)
        return self._commit(
            prior, [entry], "add_generated_column",
            deletion_vectors=[], generated_columns=gen, written=backfilled.schema.jsonValue(),
        )

    def _apply_generated(
        self, df: DataFrame, prior: dict
    ) -> tuple[DataFrame, dict[str, str]]:
        """``df`` with the absent generated columns of manifest ``prior``
        computed, and the checks the write must pass: the table's CHECK
        constraints plus ``generated:<col>`` for each supplied generated
        column. The write's own constraint pass checks them, so the rows
        checked are the rows written and no separate job runs."""
        import pyspark.sql.functions as F

        gen = prior.get("generated_columns", {})
        cons = dict(prior.get("constraints", {}))
        for c, e in gen.items():
            if c in df.columns:
                cons[f"generated:{c}"] = f"{c} <=> ({e})"
            else:
                df = df.withColumn(c, F.expr(e))
        return df, cons

    def set_identity(self, col: str, start: int = 1, step: int = 1) -> int:
        """``GENERATED BY DEFAULT AS IDENTITY`` (Delta identity columns):
        writes fill ``col`` wherever it is NULL or absent with fresh
        64-bit values, allocated monotonically above a high-watermark
        kept in table properties. BY DEFAULT semantics: explicitly
        supplied values pass through (Delta's GENERATED ALWAYS variant
        forbids them; the BY DEFAULT variant is what CDC/backfill flows
        need). Values are UNIQUE and ascending across commits but NOT
        dense — allocation is map-side (``monotonically_increasing_id``
        ranges per partition, exactly why Delta documents identity gaps),
        and the watermark advances from the written files' footer stats,
        so generation costs zero extra Spark jobs.

        Concurrency: the watermark is table metadata — two writers
        allocating from the same base would mint the same ids, so a
        concurrent identity-watermark change conflicts with EVERYTHING
        (the rebase protocol's metadata check); the loser re-reads and
        re-allocates. If the table already has data in ``col``, the
        watermark starts above the existing maximum."""
        prior = self._head("set_identity")
        if step < 1:
            raise ValueError("set_identity: step must be a positive integer")
        props = dict(prior.get("properties", {}))
        if props.get("identity"):
            raise ValueError(
                f"set_identity: identity already configured on "
                f"{props['identity']['col']!r}"
            )
        hwm = start
        snap = self.read(_snapshot=prior)
        if col in snap.columns:
            import pyspark.sql.functions as F

            row = snap.agg(F.max(col).alias("m")).first()
            if row["m"] is not None:
                hwm = max(start, int(row["m"]) + step)
        props["identity"] = {
            "col": col,
            "start": start,
            "step": step,
            "high_watermark": hwm,
        }
        return self._commit(prior, prior["data_dirs"], "set-identity", properties=props)

    def _apply_identity(self, df: DataFrame, prior: dict) -> DataFrame:
        """Fill the identity column's NULL/absent slots with fresh values
        above the watermark (map-side, no shuffle, no extra job)."""
        ident = (prior.get("properties") or {}).get("identity")
        if not ident:
            return df
        import pyspark.sql.functions as F

        col, step, base = ident["col"], ident["step"], ident["high_watermark"]
        gen = (
            F.lit(base).cast("long")
            + F.lit(step).cast("long") * F.monotonically_increasing_id()
        )
        if col not in df.columns:
            return df.withColumn(col, gen)
        return df.withColumn(
            col, F.coalesce(F.col(col).cast("long"), gen)
        )

    @staticmethod
    def _identity_changes(prior: dict, new_dirs: list[str]) -> dict:
        """The ``properties`` change a write commits: the identity
        watermark advanced past every value in ``new_dirs`` — read from
        parquet FOOTERS (same control-plane walk the stats collector
        does), never the data. {} (carry ``prior``'s) when no identity is
        configured."""
        props = dict(prior.get("properties", {}))
        ident = props.get("identity")
        if not ident:
            return {}
        col, step = ident["col"], ident["step"]
        hi = ident["high_watermark"]
        observed = None
        for d in new_dirs:
            for stats in _collect_file_stats(d).values():
                fs = stats.get(col)
                if fs and fs[1] is not None:
                    v = int(fs[1])
                    observed = v if observed is None else max(observed, v)
        if observed is not None:
            hi = max(hi, observed + step)
        props["identity"] = {**ident, "high_watermark": hi}
        return {"properties": props}

    # ---------------- bloom filter indexes ----------------

    def create_bloom_index(
        self, col: str, fpp: float = 0.01, max_keys_per_file: int = 100_000
    ) -> int:
        """CREATE BLOOMFILTER INDEX (Databricks Delta parity): point
        lookups on high-entropy columns (uuids, hashed keys) where min/max
        footer stats prune nothing — every file's [min,max] spans the
        whole domain — get file-level skipping from a per-file Bloom
        filter instead.

        Semantics match Delta's: the index is table metadata; files
        written AFTER creation carry blooms (a ``_bloom.json`` sidecar
        inside each data dir — Spark's scan ignores ``_``-prefixed files),
        pre-existing files stay bloom-less and simply aren't pruned;
        ``compact()``/``optimize()`` rewrites are the backfill path.
        Equality bounds in :meth:`read_skipping` consult the blooms after
        min/max. Native parquet row-group blooms are also enabled for the
        column at write time, so files that survive file-level skipping
        still row-group-skip inside the scan.

        Scale: the bitmap is sized from ``fpp``/``max_keys_per_file``
        (Delta's ``fpp``/``numItems``), built by one distributed pass over
        the written files (hash positions map-side, one bitmap per file
        assembled in an Arrow-batched group), and stored at m/8 bytes per
        file — the same write-amortized cost model as Delta's index files."""
        prior = self._head("create_bloom_index")
        if not (0.0 < fpp < 1.0):
            raise ValueError("create_bloom_index: fpp must be in (0, 1)")
        if col in (prior.get("partition_by") or []):
            raise ValueError(
                "create_bloom_index: partition columns are pruned by "
                "partition values already; a bloom adds nothing"
            )
        props = dict(prior.get("properties", {}))
        idx = dict(props.get("bloom_index", {}))
        if col in idx:
            raise ValueError(f"create_bloom_index: {col!r} already indexed")
        m, k = _bloom_size(max_keys_per_file, fpp)
        idx[col] = {"fpp": fpp, "m": m, "k": k}
        props["bloom_index"] = idx
        return self._commit(
            prior, prior["data_dirs"], "create-bloom-index", properties=props
        )

    def _write_bloom_sidecar(self, back: DataFrame, d: str, cfg: dict) -> None:
        """Build per-file Bloom bitmaps for every indexed column of
        ``cfg`` ({col: {fpp,m,k}}, the table's ``bloom_index`` property)
        over ``back``, the row-id scan of the freshly-written dir ``d``,
        and drop them in a ``_bloom.json``
        sidecar (lives inside the dir: vacuum reclaims it with the data,
        shallow clones see it, Spark scans ignore it).

        One Spark job: positions are map-side (k seeded xxhash64 of the
        value's string form — string so the read-side literal probe casts
        identically regardless of the literal's Python type), bitmaps
        assemble per (file, col) group in Arrow batches, and only the
        m/8-byte base64 strings come back to the driver."""
        import base64

        import pyspark.sql.functions as F

        parts = []
        for c, p in cfg.items():
            if c not in back.columns:
                continue
            pos = [
                F.pmod(
                    F.xxhash64(F.col(c).cast("string"), F.lit(i)), F.lit(p["m"])
                )
                for i in range(p["k"])
            ]
            parts.append(
                back.filter(F.col(c).isNotNull()).select(
                    F.col("__file_path").alias("f"),
                    F.lit(c).alias("col"),
                    F.explode(F.array(*pos)).alias("pos"),
                )
            )
        if not parts:
            return
        union = parts[0]
        for extra in parts[1:]:
            union = union.unionByName(extra)
        m_by_col = {c: p["m"] for c, p in cfg.items()}

        def build(key, pdf):
            import numpy as np
            import pandas as pd

            m = m_by_col[key[1]]
            arr = np.zeros((m + 7) // 8, dtype=np.uint8)
            pp = pdf["pos"].to_numpy(dtype=np.int64)
            np.bitwise_or.at(arr, pp >> 3, (1 << (pp & 7)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "f": [key[0]],
                    "col": [key[1]],
                    "b64": [base64.b64encode(arr.tobytes()).decode()],
                }
            )

        rows = (
            union.groupBy("f", "col")
            .applyInPandas(build, "f string, col string, b64 string")
            .collect()
        )
        files: dict[str, dict] = {}
        for r in rows:
            rel = os.path.relpath(_local_path(r["f"]), d)
            files.setdefault(rel, {})[r["col"]] = r["b64"]
        sidecar = {"cols": cfg, "files": files}
        with open(os.path.join(d, _BLOOM_SIDECAR), "w") as f:
            json.dump(sidecar, f)

    def _load_bloom(self, d: str) -> dict | None:
        try:
            with open(os.path.join(d, _BLOOM_SIDECAR)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _bloom_probe_positions(self, cfg: dict, value) -> list[int]:
        """The k bit positions the write side set for ``value`` — computed
        with the SAME Spark expressions (xxhash64 over the string cast) in
        a 1-row control-plane job, so engine hash semantics can't drift
        between writer and prober."""
        import pyspark.sql.functions as F

        exprs = [
            F.pmod(
                F.xxhash64(F.lit(value).cast("string"), F.lit(i)),
                F.lit(cfg["m"]),
            ).alias(f"p{i}")
            for i in range(cfg["k"])
        ]
        row = self.spark.range(1).select(*exprs).first()
        return [row[f"p{i}"] for i in range(cfg["k"])]

    def column_mapping(self) -> dict[str, list[str]]:
        """Current {logical: [physical aliases]} rename mapping."""
        return self._head().get("column_mapping", {})

    def dropped_columns(self) -> list[str]:
        """Names hidden by DROP COLUMN (dead names — see drop_column)."""
        return self._head().get("dropped_columns", [])

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` without rewriting a byte (Delta
        column mapping, name mode): a metadata-only commit records
        ``new -> [old, ...older aliases]``; every read — snapshot, time
        travel within this version, CDF — serves existing files' physical
        ``old`` under the logical ``new``, and new writes use ``new``
        directly. Old data and post-rename data coexist; a later frame
        carrying BOTH names keeps them distinct (the alias rename only
        applies when the logical name is absent).

        Partition columns are refused: their name is baked into hive
        paths — renaming one is a rewrite, not metadata. Time travel to
        pre-rename versions shows the old name (the mapping lives in the
        manifest it was committed to, exactly like Delta)."""
        prior = self._head("rename_column")
        if old in prior["partition_by"]:
            raise ValueError(
                f"rename_column({old!r}): partition columns are baked into "
                "hive paths; rewrite the table instead"
            )
        cur_cols = self.read(_snapshot=prior).columns
        if old not in cur_cols:
            raise ValueError(f"rename_column: no column {old!r} in {cur_cols}")
        mapping = {k: list(v) for k, v in prior.get("column_mapping", {}).items()}
        dropped = prior.get("dropped_columns", [])
        reserved = (
            set(cur_cols)
            | set(dropped)
            | set(mapping)
            | {a for als in mapping.values() for a in als}
        )
        if new in reserved:
            raise ValueError(f"rename_column: name {new!r} already in use")
        mapping[new] = [old] + mapping.pop(old, [])
        return self._commit(
            prior, prior["data_dirs"], "rename-column", column_mapping=mapping
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` without rewriting a byte: a
        metadata-only commit adds the name (and its rename aliases) to
        the dead list; reads hide it everywhere. CONTRACT: a dropped
        name stays dead — re-introducing it via schema evolution is
        hidden too (this engine maps columns by NAME, not by Delta's
        field ids, so resurfacing old bytes under a recycled name cannot
        be told apart from the dropped column; dead-forever is the safe
        semantics and it is enforced rather than documented away).
        Pick a fresh name instead."""
        prior = self._head("drop_column")
        if name in prior["partition_by"]:
            raise ValueError(f"drop_column({name!r}): cannot drop a partition column")
        cur_cols = self.read(_snapshot=prior).columns
        if name not in cur_cols:
            raise ValueError(f"drop_column: no column {name!r} in {cur_cols}")
        mapping = {k: list(v) for k, v in prior.get("column_mapping", {}).items()}
        dead = [name] + mapping.pop(name, [])
        dropped = list(prior.get("dropped_columns", []))
        dropped += [c for c in dead if c not in dropped]
        return self._commit(
            prior, prior["data_dirs"], "drop-column",
            column_mapping=mapping, dropped_columns=dropped,
        )

    def add_constraint(self, name: str, expr: str) -> int:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``: validates all
        rows of the head it read first (as Delta does), then commits a
        metadata-only version on that same head carrying its data dirs
        unchanged — a write landing in between fails the commit."""
        prior = self._head("add_constraint")
        cons = prior.get("constraints", {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        import pyspark.sql.functions as F

        bad = self.read(_snapshot=prior).filter(
            ~F.coalesce(F.expr(expr), F.lit(False))
        )
        if not bad.isEmpty():
            raise ConstraintViolationError(self.root, {name: expr})
        return self._commit(
            prior, prior["data_dirs"], "add_constraint",
            constraints={**cons, name: expr},
        )

    def drop_constraint(self, name: str) -> int:
        """``ALTER TABLE DROP CONSTRAINT``: metadata-only commit."""
        prior = self._head()
        cons = prior.get("constraints", {})
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}")
        return self._commit(
            prior, prior["data_dirs"], "drop_constraint",
            constraints={k: v for k, v in cons.items() if k != name},
        )

    def drop_feature(self, name: str) -> int:
        """``ALTER TABLE DROP FEATURE`` (Delta 3.x): remove a protocol
        feature so old clients can use the table again — allowed only
        when the CURRENT snapshot no longer exercises the capability
        (deletion vectors compacted away, column mapping absent, ...);
        a drop that would make the manifest lie about its own content is
        refused (and the commit path would silently re-add it anyway —
        see ``_commit``'s ``features`` change).

        Historical versions keep requiring the feature: time travel to
        them stays gated. Delta resolves the same problem by truncating
        history at drop time; keeping the history but keeping it gated
        is strictly more informative (the data is still there for a
        capable client)."""
        prior = self._head("drop_feature")
        feats = prior.get("features", {})
        reader = set(feats.get("reader", []))
        writer = set(feats.get("writer", []))
        if name not in reader | writer:
            raise ValueError(f"table does not carry feature {name!r}")
        exercised = {
            "deletion-vectors": bool(prior.get("deletion_vectors")),
            "column-mapping": bool(
                prior.get("column_mapping") or prior.get("dropped_columns")
            ),
            "check-constraints": bool(prior.get("constraints")),
            "generated-columns": bool(prior.get("generated_columns")),
            "auto-compaction": bool(
                (prior.get("properties") or {}).get("auto_compact")
            ),
        }
        if exercised.get(name):
            raise ValueError(
                f"cannot drop feature {name!r}: the current snapshot still "
                "exercises it (compact/purge or remove the metadata first)"
            )
        return self._commit(
            prior, prior["data_dirs"], "drop_feature",
            features={"reader": reader - {name}, "writer": writer - {name}},
        )

    # ---------------- writers (K1-K6) ----------------

    def _write_dir_entry(
        self, df: DataFrame, prior: dict, partition_by: list[str] | None = None
    ):
        """Write ``df`` into a fresh uniquely-named data dir; return the
        manifest entry. Layout (``partition_by``, default ``prior``'s) and
        bloom indexes come from ``prior``, the manifest the op read.
        Every dir, in either layout and whichever op wrote it, carries
        per-file footer min/max stats (Delta data-skipping analogue)
        keyed by hive-relative path: DML file-prunes on them, and
        read_skipping() uses them on the query side, with the partition
        values the keys carry for path-level pruning. Indexed columns get
        a file-level bloom sidecar too."""
        if partition_by is None:
            partition_by = prior["partition_by"]
        d = self._new_data_dir(prior)
        w = df.write.mode("overwrite")
        bloom = prior.get("properties", {}).get("bloom_index", {})
        bloom_cols = [c for c in bloom if c in df.columns]
        for c in bloom_cols:
            # native parquet row-group blooms ride along for free: scans
            # that survive file-level skipping still skip row groups on
            # pushed-down equality predicates
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        if bloom_cols:
            self._write_bloom_sidecar(
                self._scan(_written(df, partition_by), [{"path": d}], row_ids=True),
                d,
                {c: bloom[c] for c in bloom_cols},
            )
        return {"path": d, "files": _collect_file_stats(d)}

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
    ) -> "LakeTable":
        """CONVERT TO DELTA (in-place, zero-copy): promote an existing
        plain-parquet directory to a LakeTable by writing a v1 manifest
        that REFERENCES the files where they lie — no byte is copied or
        rewritten. Footer min/max stats are collected during the convert
        (one footer read per file, Delta's convert does the same), so
        data skipping and file-pruned DML work immediately; every DML /
        time-travel / CDF / streaming capability then applies on top.

        ``partition_by`` must name the hive layout the directory already
        uses (Delta's ``CONVERT TO DELTA ... PARTITIONED BY`` contract);
        it is validated against the actual paths — a mismatch raises
        before any manifest is written.

        The manifest pins the CURRENT file list (``live_files``): files
        dropped into the directory after the convert are invisible, the
        same isolation Delta's log gives. Later commits write under
        ``<path>/data`` as usual; vacuum never reclaims the original
        directory itself (it only sweeps ``data/``) — the converted
        files are simply aged out of manifests when superseded."""
        t = cls(spark, path)
        if t.exists():
            raise ValueError(f"{path} is already a LakeTable (manifest present)")
        stats = _collect_file_stats(path)
        if not stats:
            raise ValueError(f"{path} contains no parquet files to convert")
        pcols = partition_by or []
        for rel in stats:
            segs = rel.split(os.sep)[:-1]
            hive = [s.split("=", 1)[0] for s in segs if "=" in s]
            if hive != pcols:
                raise ValueError(
                    f"convert_from_parquet(partition_by={pcols}): file "
                    f"{rel!r} has hive layout {hive} — pass the directory's "
                    "actual partition columns"
                )
        entry = {"path": path, "live_files": sorted(stats), "files": stats}
        # the one schema inference in a table's life: foreign files come
        # with no recorded schema, so the manifest adopts what a merged-
        # schema scan of them infers; every later scan passes it
        inferred = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", path)
            .parquet(*[os.path.join(path, rel) for rel in entry["live_files"]])
            .schema
        )
        t._commit(
            {"version": 0}, [entry], "convert",
            partition_by=pcols, schema=_schema_json(inferred.jsonValue(), pcols),
        )
        return t

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: dict | None = None,
        constraints: dict[str, str] | None = None,
    ) -> int:
        """K1/K4: full overwrite (schema evolution implicit — the written
        frame's schema becomes the table's). Never auto-rebases: replace-all
        semantics racing any other writer must surface.

        ``constraints`` sets the table's CHECK constraints in the SAME
        commit (CREATE TABLE .. WITH CONSTRAINTS shape): the incoming
        rows are validated against them in one aggregate — cheaper than
        overwrite + per-constraint add_constraint, which would re-scan
        the table once per constraint and burn a commit each."""
        return self._overwrite(self._head(), df, partition_by, txn, constraints)

    def _overwrite(
        self,
        prior: dict,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: dict | None = None,
        constraints: dict[str, str] | None = None,
    ) -> int:
        """:meth:`overwrite` committed against ``prior``, the head the
        caller read."""
        partition_by = partition_by or []
        if self._txn_applied(prior, txn):
            return prior["version"]
        df, cons = self._apply_generated(df, prior)
        df = self._apply_identity(df, prior)
        entry = self._write_dir_entry(df, prior, partition_by)
        # post-write validation (see _enforce_constraints_on_entry: checks
        # the written bytes, immune to non-deterministic inputs); explicit
        # same-commit constraints merge into one aggregate pass
        self._enforce_constraints_on_entry(
            entry, _written(df, partition_by), {**cons, **(constraints or {})}
        )
        changes = self._identity_changes(prior, [entry["path"]])
        if constraints is not None:
            changes["constraints"] = constraints
        return self._commit(
            prior, [entry], "overwrite", txn=txn,
            partition_by=partition_by, deletion_vectors=[],
            schema=_schema_json(df.schema.jsonValue(), partition_by), **changes,
        )

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        schema_mode: str = "merge",
        txn: dict | None = None,
    ) -> int:
        """K2/K3: append — new version references prior data dirs plus the
        new one (no rewrite of existing files). Blind add: on a concurrent
        commit it auto-rebases onto the new head (Delta semantics — blind
        appends read nothing, so they conflict with nothing).

        ``schema_mode``: ``"merge"`` (default here — the recorded schema
        widens to the new columns, so evolution is implicit) or
        ``"strict"`` (Delta's default posture: reject new columns and
        type changes before anything is written; the comparison reads
        the recorded schema, never data)."""
        prior = self._head()
        if self._txn_applied(prior, txn):
            return prior["version"]
        if not prior["version"]:
            return self._overwrite(prior, df, partition_by, txn)
        if schema_mode == "strict":
            current = {
                f.name: f.dataType.simpleString()
                for f in self.read(_snapshot=prior).schema.fields
            }
            incoming = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            extra = sorted(set(incoming) - set(current))
            mismatched = sorted(
                c for c in incoming.keys() & current.keys() if incoming[c] != current[c]
            )
            if extra or mismatched:
                raise SchemaMismatchError(
                    f"append to {self.root} under schema_mode='strict': "
                    f"new columns {extra}, type changes "
                    f"{[(c, current[c], incoming[c]) for c in mismatched]}"
                )
        elif schema_mode != "merge":
            raise ValueError(f"schema_mode must be 'merge' or 'strict', got {schema_mode!r}")
        partition_by = partition_by or prior["partition_by"]
        if partition_by != prior["partition_by"]:
            # Delta parity: appends cannot change the partitioning scheme
            # (mixed hive layouts would break hive-value file pruning);
            # repartitioning a table is an explicit overwrite.
            raise SchemaMismatchError(
                f"append to {self.root}: partition_by={partition_by} differs "
                f"from the table's {prior['partition_by']}; use overwrite() "
                "to change partitioning"
            )
        df, cons = self._apply_generated(df, prior)
        df = self._apply_identity(df, prior)
        entry = self._write_dir_entry(df, prior)
        self._enforce_constraints_on_entry(entry, _written(df, partition_by), cons)
        # Record the partitions this append wrote (filesystem walk of the
        # freshly-written dir — no extra Spark job) so OTHER writers'
        # disjointness checks see them; the append itself rebases blindly.
        touched = (
            [dict(t) for t in sorted(_dir_partition_tuples(entry["path"], partition_by), key=str)]
            if partition_by
            else []
        )
        v = self._commit(
            prior,
            lambda head: head["data_dirs"] + [entry],
            "append",
            touched=touched,
            txn=txn,
            blind=True,
            written=df.schema.jsonValue(),
            **self._identity_changes(prior, [entry["path"]]),
        )
        if prior.get("properties", {}).get("auto_compact"):
            # follow-up physical-only commit; the append above is already
            # durable and its version is what we return
            self._auto_compact()
        return v

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        txn: dict | None = None,
    ) -> int:
        """K5/K6: MERGE upsert with create-if-absent fallback (reference
        src/glue_etl.py:439-497, Delta ``whenMatchedUpdateAll /
        whenNotMatchedInsertAll``).

        File-pruned copy-on-write in both layouts (the Delta-at-scale
        behavior: rewrite only matched files, never the whole table):
        the batch is evaluated exactly once — after generated columns and
        identity are applied, one ``localCheckpoint`` pass materializes it
        and observes each key's min and max plus the CHECK-constraint and
        supplied-generated-column violation flags (:meth:`_materialize_observed`, Delta's
        ``merge.materializeSource``), so the rows checked are the rows
        written and every later step reads the same rows. Per-file footer
        min/max stats recorded at write time narrow the candidate files
        to those key ranges, then one column-pruned scan of only the
        candidates, semi-joined with the batch keys, finds the
        exactly-touched files (:meth:`_files_holding`). Only those files
        are read, merged and rewritten into the new data dir — inserted
        rows land in their own partitions there, and a key that moved
        partitions leaves its old file rewritten without it; every other
        file passes through into the new manifest untouched,
        byte-identical (see :meth:`_rewrite_touched`). A small batch read
        from parquet commits in 5 Spark jobs in either layout: the
        materializing pass, the key broadcast and scan of discovery, and
        the key broadcast and write of the rewrite.

        Schema evolution (Delta ``withSchemaEvolution()`` semantics,
        SURVEY K4): updates may carry NEW columns — merged/inserted rows
        store them, untouched files pass through under their
        old schema (never rewritten for a metadata change), the recorded
        schema widens to the new columns, and scans serve old rows with
        NULLs in them. Contract locked by
        tests/test_lake_table.py::test_merge_schema_evolution_new_column.
        """
        return self._merge(self._head(), updates, keys, txn)

    def _merge(
        self,
        prior: dict,
        updates: DataFrame,
        keys: list[str],
        txn: dict | None = None,
        operation: str = "merge",
    ) -> int:
        """:meth:`merge` committed against ``prior``, the head the caller
        read, as ``operation``. Rows of ``updates`` whose :data:`_DELETE`
        flag is true are delete keys (:meth:`apply_changes`, MV refresh):
        the pass that materializes the upserts materializes them too, the
        touched-file discovery and the rewrite's anti-join span both, and
        the rewrite leaves them out, so a CDC batch of upserts and
        deletes lands as one pruned commit."""
        import pyspark.sql.functions as F

        if self._txn_applied(prior, txn):
            return prior["version"]
        flagged = _DELETE in updates.columns
        if not prior["version"]:
            if flagged:
                updates = updates.filter(~F.col(_DELETE)).drop(_DELETE)
            return self._overwrite(prior, updates, txn=txn)
        self._reject_cow_with_dvs(prior, "merge")
        updates, cons = self._apply_generated(updates, prior)
        if (prior.get("properties") or {}).get("identity"):
            # MERGE + identity: matched keys must KEEP the target row's id
            # (the update payload usually omits it), only true inserts
            # allocate — so carry target ids over by key first, then fill
            ident = prior["properties"]["identity"]
            icol = ident["col"]
            tgt_ids = self.read(_snapshot=prior).select(
                *keys, F.col(icol).alias("__tgt_id")
            )
            if icol not in updates.columns:
                updates = updates.withColumn(icol, F.lit(None).cast("long"))
            updates = (
                updates.join(tgt_ids, on=keys, how="left")
                .withColumn(icol, F.coalesce(F.col(icol).cast("long"), F.col("__tgt_id")))
                .drop("__tgt_id")
            )
            updates = self._apply_identity(updates, prior)
        updates, seen = self._materialize_observed(updates, keys, cons)
        self._raise_violations(seen, cons)
        key_frame = updates.select(*keys)
        # footer-pruning ranges spanning upserts and delete keys
        key_ranges = {}
        for k in keys:
            lo, hi = seen[f"{k}__lo"], seen[f"{k}__hi"]
            if all(isinstance(b, (int, float, str, bool)) for b in (lo, hi)):
                key_ranges[k] = (lo, hi)

        def rewrite(target: DataFrame) -> DataFrame:
            merged = merge_upsert(target, updates, keys)
            if flagged:
                # target rows carry no flag; the batch's delete rows leave
                kept = ~F.coalesce(F.col(_DELETE), F.lit(False))
                merged = merged.filter(kept).drop(_DELETE)
            return merged

        def no_key_overlap(winners_delta: DataFrame) -> bool:
            # rebase safety: the winners' new rows hold none of our keys
            if not set(keys) <= set(winners_delta.columns):
                return True  # winner's data has no key columns: can't match
            return (
                winners_delta.select(*keys).join(key_frame, on=keys, how="left_semi").isEmpty()
            )

        v = self._rewrite_touched(
            prior,
            operation,
            # exact touched-file check (Delta's matched-file join): scan
            # only the candidates, semi-join the keys
            lambda scan: scan.join(key_frame, on=keys, how="left_semi"),
            rewrite,
            key_ranges=key_ranges,
            always=True,
            delta_check=no_key_overlap,
            txn=txn,
        )
        if prior.get("properties", {}).get("auto_compact"):
            self._auto_compact()
        return v

    def fold(
        self, step, txn: dict | None = None, keys: list[str] | None = None
    ) -> int:
        """Read-modify-write on ONE snapshot (Delta's MERGE reads the
        target and commits in one transaction): the head is read once;
        when it already records ``txn`` its version is returned at once —
        ``step`` is never called and no Spark job runs. Otherwise
        ``step(snapshot)`` (``None`` on a table with no commit yet) is
        committed against that same head: as an :meth:`overwrite`, or
        with ``keys`` as a :meth:`merge` on them. A commit landing after
        the read raises ConcurrentWriteError (the same ``txn`` landing
        returns its version) instead of being replaced. Returns the
        version holding the fold: state derived from it reads
        ``read(version=...)`` of that version, not the head."""
        prior = self._head()
        if self._txn_applied(prior, txn):
            return prior["version"]
        out = step(self.read(_snapshot=prior) if prior["version"] else None)
        if keys is None:
            return self._overwrite(prior, out, txn=txn)
        return self._merge(prior, out, keys, txn)

    def apply_changes(
        self,
        cdc: DataFrame,
        keys: list[str],
        sequence_col: str,
        change_type_col: str = "_change_type",
        txn: dict | None = None,
    ) -> int:
        """APPLY CHANGES INTO (Delta Live Tables' CDC-apply): consume a
        change feed — e.g. another LakeTable's ``changes()`` or the
        ``laketable`` streaming source with ``readChangeFeed`` — into
        this table. Closes the CDC loop this storage layer produces.

        Semantics (DLT parity): per key, the row with the HIGHEST
        ``sequence_col`` wins (out-of-order tolerant — late-arriving
        older changes are ignored); ``update_preimage`` rows are dropped
        before sequencing (they describe the old value; their postimage
        twin carries the same sequence); a winning ``delete`` removes the
        key, any other winning change upserts the row. The caller must
        guarantee ``sequence_col`` totally orders each key's changes
        (our CDF's ``_commit_version`` does: one change per key per
        commit once preimages are dropped). ``change_type_col`` and
        ``sequence_col`` are bookkeeping, not payload — both are dropped
        before the write.

        One MERGE-shaped commit (operation ``apply_changes``): each
        key's winning change, flagged :data:`_DELETE` when it is a
        delete, is materialized in one pass — the sequencing window runs
        once — and upserts and deletes share the touched-partition /
        touched-file discovery, so a CDC batch lands partition- or
        file-pruned exactly like a merge, and the commit is OCC-protected
        with the same winner-overlap checks (delete keys included)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        live = cdc.filter(F.col(change_type_col) != "update_preimage")
        w = Window.partitionBy(*keys).orderBy(F.desc(sequence_col))
        latest = (
            live.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .withColumn(_DELETE, F.col(change_type_col) == "delete")
            .drop("__rn", change_type_col, sequence_col)
        )
        return self._merge(self._head(), latest, keys, txn, "apply_changes")

    def apply_changes_scd2(
        self,
        cdc: DataFrame,
        keys: list[str],
        sequence_col: str,
        change_type_col: str = "_change_type",
        txn: dict | None = None,
    ) -> int:
        """APPLY CHANGES INTO ... STORED AS SCD TYPE 2 (Delta Live
        Tables' history-keeping CDC apply): instead of keeping only each
        key's latest row, every change opens a new history row and closes
        the previous one. The table carries two bookkeeping columns:
        ``__start_at`` (the ``sequence_col`` value that opened the row)
        and ``__end_at`` (the sequence that closed it; NULL = current).

        Batch semantics: preimages are dropped (their postimage twin
        carries the same sequence); each key's in-batch changes are
        ordered by ``sequence_col`` and each non-delete change becomes an
        interval ``[seq, next_seq)`` — a delete contributes no row but
        closes the interval before it. A key's existing OPEN row joins
        the ordering as one more event at its own ``__start_at``, so the
        first incoming change closes it; CLOSED history rows are never
        rewritten. Requires per-key monotone feeds: an incoming change
        older than an affected key's recorded ``__start_at`` raises
        rather than silently corrupting history (full retroactive
        repair would need delete tombstones this table doesn't keep).

        Lands as ONE merge-shaped commit keyed on ``keys + __start_at``
        (operation ``apply_changes_scd2``): re-opened rows update in
        place, new intervals insert, untouched files pass through — the
        same pruned-commit shape as :meth:`apply_changes`.

        Scale: the only shuffle beyond the merge itself is the per-key
        ``lead()`` window — partitioned by key, so each task holds one
        key's change count (bounded by commits per batch), never a
        global sort."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        live = cdc.filter(F.col(change_type_col) != "update_preimage")
        payload = [
            c for c in live.columns if c not in (change_type_col, sequence_col)
        ]
        events = live.select(
            *payload,
            F.col(sequence_col).alias("__start_at"),
            (F.col(change_type_col) == "delete").alias("__is_delete"),
        )
        # one head for the whole op: the history below is derived from
        # this version, and the merge commits against it, so a commit that
        # lands in between raises ConcurrentWriteError instead of being
        # absorbed into intervals computed without it
        prior = self._head()
        if self._txn_applied(prior, txn):
            return prior["version"]
        if prior["version"]:
            tgt = self.read(_snapshot=prior)
            affected = tgt.join(
                events.select(*keys).distinct(), on=keys, how="left_semi"
            )
            # late-arriving guard: history already extends past this batch
            late = (
                affected.groupBy(*keys)
                .agg(F.max("__start_at").alias("__hi"))
                .join(events.select(*keys, "__start_at"), on=keys)
                .filter(F.col("__start_at") < F.col("__hi"))
            )
            if not late.isEmpty():
                bad = late.select(*keys, "__start_at", "__hi").first()
                raise ValueError(
                    "apply_changes_scd2: change older than recorded history "
                    f"for key {[bad[k] for k in keys]} "
                    f"(incoming {bad['__start_at']} < recorded {bad['__hi']}); "
                    "SCD2 keeps no delete tombstones, so retroactive repair "
                    "is not possible — feed changes in per-key order"
                )
            open_events = affected.filter(F.col("__end_at").isNull()).select(
                *payload, "__start_at", F.lit(False).alias("__is_delete")
            )
            events = events.unionByName(open_events)
        w = Window.partitionBy(*keys).orderBy("__start_at")
        # (key, seq) dedupe: a replayed feed re-delivers the change that
        # opened the current row — the incoming copy and the open-row event
        # are identical, keep one
        intervals = (
            events.dropDuplicates(keys + ["__start_at"])
            .withColumn("__end_at", F.lead("__start_at").over(w))
            .filter(~F.col("__is_delete"))
            .drop("__is_delete")
        )
        return self._merge(
            prior, intervals, keys + ["__start_at"], txn, "apply_changes_scd2"
        )

    def _files_holding(self, prior: dict, files: list[tuple], rows) -> list[tuple]:
        """The ``files`` (inventory tuples of snapshot ``prior``) holding a
        row of ``rows(scan)`` — Delta's find-touched-files scan: one
        column-pruned scan of ``files`` (parquet footer pushdown and hive
        partition pruning do the skipping) runs into the ``noop`` sink
        while an ``Observation`` collects the set of files its rows came
        from — no exchange, and the set is bounded by the touched-file
        count (Delta's ``findTouchedFiles`` set accumulator)."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        if not files:
            return []
        scan = self._scan(prior, _files_entries(files))
        obs = Observation()
        hit = rows(scan.withColumn("__file", F.input_file_name())).select("__file")
        hit = hit.observe(obs, F.collect_set("__file").alias("files"))
        hit.write.format("noop").mode("overwrite").save()
        paths = {_local_path(p) for p in obs.get["files"]}
        return [f for f in files if os.path.abspath(os.path.join(f[0], f[1])) in paths]

    @staticmethod
    def _cond_delta_check(cond):
        """Rebase safety for delete/update on a partitioned table: the
        winners' new data must contain no row matching our condition (else a serial
        re-run would have rewritten it too)."""
        import pyspark.sql.functions as F

        def check(winners_delta: DataFrame) -> bool:
            try:
                return winners_delta.filter(F.coalesce(cond, F.lit(False))).isEmpty()
            except Exception:
                return False  # condition not evaluable on winner's schema

        return check

    def delete(self, condition, mode: str = "copy-on-write") -> int:
        """Delta-style ``DELETE FROM t WHERE condition``.

        ``mode="copy-on-write"`` (default): rewrite only the files that
        hold a match, in either layout (see :meth:`_rewrite_touched`);
        everything else passes through byte-identical.

        ``mode="merge-on-read"``: Delta DELETION VECTORS — no data file
        is rewritten at all; the doomed rows' (file, row_index) ids land
        in a parquet sidecar that every scan anti-joins out. The write
        cost is proportional to the DELETED rows, not the touched files —
        the right trade for frequent small deletes on huge files. Reads
        pay the anti-join until ``compact()`` materializes the DVs back
        into clean files (Delta's PURGE)."""
        import pyspark.sql.functions as F

        prior = self._head("delete")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode == "merge-on-read":
            return self._delete_merge_on_read(prior, cond)
        if mode != "copy-on-write":
            raise ValueError(
                f"delete mode must be 'copy-on-write' or 'merge-on-read', got {mode!r}"
            )
        self._reject_cow_with_dvs(prior, "delete")
        # SQL/Delta DELETE removes only rows where the condition is TRUE;
        # rows where it evaluates to NULL are kept. filter(~cond) would
        # silently drop them (3-valued logic), so coalesce NULL -> FALSE.
        matched = F.coalesce(cond, F.lit(False))
        # every touched row deleted leaves the rewrite dir empty: it stays
        # out of the manifest (vacuum reclaims it)
        return self._rewrite_touched(
            prior,
            "delete",
            lambda scan: scan.filter(matched),
            lambda target: target.filter(~matched),
            delta_check=self._cond_delta_check(cond),
        )

    def _reject_cow_with_dvs(self, prior: dict, operation: str) -> None:
        """Copy-on-write DML reads files directly (inventory scans,
        pruned rewrites) and would resurrect DV-deleted rows; Delta
        materializes DVs before such operations — here the explicit
        equivalent is compact()."""
        if prior.get("deletion_vectors"):
            raise ValueError(
                f"{operation}: table has active deletion vectors "
                "(merge-on-read deletes); run compact() to materialize "
                "them before copy-on-write DML"
            )

    def _delete_merge_on_read(self, prior: dict, cond) -> int:
        """DELETE via deletion vectors: append a (file, row_index)
        sidecar, keep every data file. See delete() for the contract."""
        import pyspark.sql.functions as F

        if not prior["data_dirs"]:
            return prior["version"]  # empty table: no-op
        doomed = (
            self.read(_snapshot=prior, _with_rowids=True)
            .filter(F.coalesce(cond, F.lit(False)))
            .select("__file_path", "__row_index")
        )
        if doomed.isEmpty():
            return prior["version"]  # no-op delete
        dv_dir = os.path.join(self.root, "_dv", uuid.uuid4().hex[:12])
        doomed.write.mode("overwrite").parquet(dv_dir)
        return self._commit(
            prior, prior["data_dirs"], "delete-dv",
            deletion_vectors=prior.get("deletion_vectors", []) + [dv_dir],
        )

    def update(self, condition, assignments: dict) -> int:
        """Delta-style ``UPDATE t SET col = expr WHERE condition`` as
        copy-on-write: rewrites only the files holding matching rows, in
        either layout (see :meth:`_rewrite_touched`). Assignments must not
        change partition columns — use merge() for partition-moving
        updates, which rewrites the old file without the row."""
        import pyspark.sql.functions as F

        prior = self._head("update")
        self._reject_cow_with_dvs(prior, "update")
        bad = set(assignments) & set(prior["partition_by"])
        if bad:
            raise ValueError(f"update() cannot modify partition columns {sorted(bad)}; use merge()")
        gen = prior.get("generated_columns", {})
        bad_gen = set(assignments) & set(gen)
        if bad_gen:
            raise ValueError(
                f"update() cannot SET generated columns {sorted(bad_gen)} "
                "(GENERATED ALWAYS AS values are derived, never assigned)"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def apply(df):
            for c, expr in assignments.items():
                val = F.expr(expr) if isinstance(expr, str) else expr
                df = df.withColumn(c, F.when(cond, val).otherwise(F.col(c)))
            # recompute generated columns: an updated source column must
            # flow through (the rewrite touches whole rows anyway)
            for c, e in gen.items():
                df = df.withColumn(c, F.expr(e))
            return df

        cons = prior.get("constraints", {})

        def rewrite(target: DataFrame) -> DataFrame:
            out = apply(target)
            self._enforce_constraints(out, cons)
            return out

        return self._rewrite_touched(
            prior,
            "update",
            lambda scan: scan.filter(F.coalesce(cond, F.lit(False))),
            rewrite,
            delta_check=self._cond_delta_check(cond),
        )

    # ---------------- readers (S4 + time travel) ----------------

    def read(
        self,
        version: int | None = None,
        as_of_timestamp: float | None = None,
        _with_rowids: bool = False,
        _snapshot: dict | None = None,
    ) -> DataFrame:
        """The snapshot at ``version`` (default: the head) or at
        ``as_of_timestamp``: a new DataFrame per call, built with no Spark
        job. ``_snapshot``: the manifest an operation already read."""
        if version is not None and as_of_timestamp is not None:
            raise ValueError("pass version OR as_of_timestamp, not both")
        if as_of_timestamp is not None:
            version = self.version_as_of(as_of_timestamp)
        m = _snapshot
        if m is None:
            m = self._manifest(version if version is not None else self.current_version())
        check_table_features(m, for_write=False, where=self.root)
        return self._scan(m, row_ids=_with_rowids)

    def _scan(
        self, manifest: dict, entries: list | None = None, *, row_ids: bool = False
    ) -> DataFrame:
        """The one reader of table data files: the rows of ``entries``
        (default ``manifest``'s data dirs) as ``manifest``'s snapshot
        serves them. Each entry is one parquet scan under the recorded
        schema (no footer read, no Spark job) with ``basePath`` at its
        dir (only its ``live_files`` when the entry lists them), served
        under the logical names AS OF ``manifest`` (time travel before a
        rename shows the old name, like Delta); the scans are unioned
        (partitioned roots cannot share one) and the manifest's deletion
        vectors anti-joined on :data:`_ROW_ID`, which ``row_ids`` keeps."""
        import pyspark.sql.functions as F

        schema = _recorded_schema(manifest, self.root)
        dvs = manifest.get("deletion_vectors", [])
        frames = []
        for e in manifest["data_dirs"] if entries is None else entries:
            path, live = e["path"], e.get("live_files")
            if live is not None and not live:
                continue
            paths = [path] if live is None else [os.path.join(path, r) for r in live]
            df = self.spark.read.schema(schema).option("basePath", path).parquet(*paths)
            if df.columns != schema.names:
                # a scan lists partition columns last; the recorded order
                # may hold columns added after them
                df = df.select(*schema.names)
            df = _apply_column_mapping(df, manifest)
            if dvs or row_ids:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias(_ROW_ID[0]),
                    F.col("_metadata.row_index").alias(_ROW_ID[1]),
                )
            frames.append(df)
        if not frames:  # limit(0): plans as an empty local relation
            return _apply_column_mapping(
                self.spark.createDataFrame([], schema).limit(0), manifest
            )
        out = frames[0]
        for other in frames[1:]:
            out = out.unionByName(other)
        if dvs:
            out = out.join(_read_dvs(self.spark, dvs), on=_ROW_ID, how="left_anti")
            if not row_ids:
                out = out.drop(*_ROW_ID)
        return out

    def changes(
        self,
        starting_version: int,
        ending_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Change Data Feed (Delta ``table_changes``): row-level changes
        per commit with ``_change_type``/``_commit_version``, derived
        from the manifests reading only what each commit touched — see
        lake/cdf.py for the contract and cost model."""
        from ecommerce_lakehouse_spark.lake.cdf import table_changes

        return table_changes(self, starting_version, ending_version, keys)

    def read_skipping(
        self, bounds: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Data skipping on READ (the query-side use of the same footer
        min/max stats DML pruning uses — Delta's data skipping): files
        whose stats PROVE no row can satisfy ``bounds`` ({col: (lo, hi)},
        None = unbounded side) are never opened; the surviving files then
        get the equivalent row filter, so results are exact, not merely
        file-granular. Pairs with ``optimize(zorder_by=...)``: Z-order
        clustering is what makes per-file ranges narrow enough to skip.

        One path for both layouts: footer stats prune on data columns,
        hive path values prune on partition-column EQUALITY bounds
        (string compare of the decoded value — range bounds on partition
        columns stay filter-only, because path strings don't order
        numerically), and bloom sidecars prune equality bounds on indexed
        columns. A file without stats is never skipped."""
        import pyspark.sql.functions as F

        v = version if version is not None else self.current_version()
        manifest = self._manifest(v)
        check_table_features(manifest, for_write=False, where=self.root)

        def bound_filter(df: DataFrame) -> DataFrame:
            for c, (lo, hi) in bounds.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
            return df

        if manifest.get("deletion_vectors"):
            # footer stats can admit rows a deletion vector removed, and
            # the DV anti-join needs row ids from every surviving file —
            # serve the exact filtered read instead of file pruning
            return bound_filter(self.read(_snapshot=manifest))
        eq = {
            c: lo
            for c, (lo, hi) in bounds.items()
            if lo is not None and lo == hi
        }
        # hive writes booleans lowercase — same canonicalization as
        # _row_canon, which exists for exactly this mismatch
        eq_hive = {
            c: str(lo).lower() if isinstance(lo, bool) else str(lo)
            for c, lo in eq.items()
            if c in manifest["partition_by"]
        }
        keep = [
            (d, rel)
            for d, rel, stats in self._file_inventory(manifest)
            if _ranges_intersect(stats, bounds)
            and all(_hive_values(rel).get(c) == val for c, val in eq_hive.items())
        ]
        # bloom skipping: equality bounds on indexed columns test each
        # surviving file's bitmap — an unset probe bit proves absence
        # (false positives only cost an extra file read, never a row)
        bloom_cfg = manifest.get("properties", {}).get("bloom_index", {})
        if keep and any(c in bloom_cfg for c in eq):
            probes = {
                c: self._bloom_probe_positions(bloom_cfg[c], v)
                for c, v in eq.items()
                if c in bloom_cfg
            }
            sidecars: dict[str, dict | None] = {}
            kept = []
            for d, rel in keep:
                if d not in sidecars:
                    sidecars[d] = self._load_bloom(d)
                sc = sidecars[d]
                fb = (sc or {}).get("files", {}).get(rel, {})
                if any(
                    c in fb and not _bloom_test(fb[c], pos)
                    for c, pos in probes.items()
                ):
                    continue  # proven absent from this file
                kept.append((d, rel))
            keep = kept
        return bound_filter(self._scan(manifest, _files_entries(keep)))

    def register(self, name: str, version: int | None = None) -> None:
        """K7 catalog registration (CREATE TABLE ... USING ... LOCATION)."""
        self.read(version).createOrReplaceTempView(name)

    # ---------------- maintenance (§4: OPTIMIZE / VACUUM analogues) -------

    def describe_detail(self) -> dict:
        """Delta ``DESCRIBE DETAIL`` analogue: one dict of table facts —
        location, current version, partition columns, LIVE file count and
        byte size (``live_files`` honored, exactly the files a read would
        open), properties, constraints, generated
        columns, deletion-vector sidecar count, created/last-modified
        timestamps, version count. Control-plane only: manifest reads
        plus a filesystem walk, zero Spark jobs."""
        m = self._head("describe_detail")
        v = m["version"]
        hist = self.history()
        files = [os.path.join(d, rel) for d, rel, _ in self._file_inventory(m)]
        return {
            "format": "laketable-parquet",
            "location": self.root,
            "version": v,
            "partition_columns": m["partition_by"],
            "num_files": len(files),
            "size_in_bytes": sum(os.path.getsize(f) for f in files),
            "properties": m.get("properties", {}),
            "constraints": m.get("constraints", {}),
            "generated_columns": m.get("generated_columns", {}),
            "num_deletion_vector_files": len(m.get("deletion_vectors", [])),
            "created_at": hist[0].get("committed_at"),
            "last_modified": m.get("committed_at"),
            "num_versions": len(hist),
        }

    # ---------------- table properties + auto-compaction ----------------

    def properties(self) -> dict:
        """Current table properties ({key: value})."""
        return self._head().get("properties", {})

    def set_properties(self, props: dict) -> int:
        """Delta ``ALTER TABLE .. SET TBLPROPERTIES`` analogue (reference
        config/settings.py:124-127 sets ``delta.autoOptimize.optimizeWrite``
        / ``autoCompact`` plus 128-512 MB file-size targets per layer).
        Metadata-only commit; keys merge over existing properties.

        Honored keys:
        - ``auto_compact`` (bool): after every append, partitions whose
          live file count crossed ``auto_compact_min_files`` are folded
          into right-sized files as a follow-up physical-only commit
          (see _auto_compact).
        - ``auto_compact_min_files`` (int, default 8): the trigger
          threshold (Delta's ``minNumFiles``; default scaled to local
          test file counts).
        - ``target_file_bytes`` (int, default 128 MiB): output file size
          target, the reference's bronze-layer target."""
        prior = self._head("set_properties")
        return self._commit(
            prior, prior["data_dirs"], "set-properties",
            properties={**prior.get("properties", {}), **props},
        )

    def _auto_compact(self) -> int | None:
        """Auto-compaction (Delta ``delta.autoOptimize.autoCompact``):
        invoked after an append or merge when the ``auto_compact``
        property is set. In each partition (the whole table when
        unpartitioned), the live files below ``target_file_bytes`` are
        folded toward that size once there are ``auto_compact_min_files``
        of them and the fold reduces their count — as a SEPARATE commit
        with operation ``auto-compact``, a physical-only op
        (_PHYSICAL_OPS), so CDF and the streaming source see no logical
        change, exactly like manual compact(). A partition's files fold
        into one file; every other file is carried by name, never copied.

        Best-effort janitor: an OCC race is swallowed (the data commit
        this trails is already durable; the next append retries), and
        outstanding deletion vectors skip it (a partial rewrite would
        have to split DV sidecars — run compact() to purge DVs first).
        Returns the compaction commit's version, or None if nothing to
        do."""
        import math

        prior = self._head()
        props = prior.get("properties", {})
        minf = int(props.get("auto_compact_min_files", 8))
        target_bytes = int(props.get("target_file_bytes", 128 << 20))
        if prior.get("deletion_vectors"):
            return None
        groups: dict[tuple, list] = {}
        for f in self._file_inventory(prior):
            size = os.path.getsize(os.path.join(f[0], f[1]))
            if size < target_bytes:
                groups.setdefault(_partition_of(f[1]), []).append((f, size))
        small, nbytes = [], 0
        for files in groups.values():
            total = sum(sz for _, sz in files)
            if len(files) >= minf and math.ceil(total / target_bytes) < len(files):
                small += [f for f, _ in files]
                nbytes += total
        if not small:
            return None
        df = self._scan(prior, _files_entries(small))
        # rows hash to their partition's task, so each partition folds
        # into one file (an unpartitioned fold into ~target-sized ones)
        nout = max(1, math.ceil(nbytes / target_bytes))
        entries, partitions, _ = self._rewrite(
            prior, small, df.repartition(nout, *prior["partition_by"])
        )
        try:
            return self._commit(
                prior, entries(prior), "auto-compact", touched=partitions,
                deletion_vectors=[], written=df.schema.jsonValue(),
            )
        except ConcurrentWriteError:
            return None

    def compact(
        self, target_partitions: int | None = None, where: str | None = None
    ) -> int:
        """OPTIMIZE analogue: rewrite the snapshot into right-sized files
        (reference docs/data_model.md:302-308's 128-512 MB targets; here
        AQE coalescing + optional repartition pick the file count).

        ``where`` (Delta ``OPTIMIZE ... WHERE``): a predicate over the
        partition columns; compact ONLY the files of the partitions it
        holds for — at 100 TB you optimize yesterday's partition, never
        the table. The partitions are chosen by their hive values (one
        row per partition, a local relation: no Spark job), and every
        other file passes through the manifest byte-identical, carried
        by name — the same commit shape as MERGE. Deletion vectors are
        carried (new files have new paths, so DVs can't name rows in
        them; rows DVs removed from rewritten files stay removed because
        the scan applied them before the rewrite); full-table compaction
        still materializes DVs (Delta PURGE)."""
        prior = self._head("compact")
        pcols = prior["partition_by"]
        if where is not None:
            if not pcols:
                raise ValueError(
                    "compact(where=...): partition-scoped compaction needs a "
                    "partitioned table; use plain compact() instead"
                )
            touched = self._files_in_partitions(prior, where)
            if not touched:
                return prior["version"]
            df = self._scan(prior, _files_entries(touched))
            if target_partitions:
                df = df.repartition(target_partitions, *pcols)
            entries, partitions, _ = self._rewrite(prior, touched, df)
            return self._commit(
                prior, entries(prior), "compact", touched=partitions,
                written=df.schema.jsonValue(),
            )
        target = self.read(_snapshot=prior)
        if target_partitions:
            target = target.repartition(target_partitions, *pcols)
        entry = self._write_dir_entry(target, prior)
        # DVs may have deleted every row: a fileless dir stays out of the
        # manifest (as the cow delete path does)
        return self._commit(
            prior, [entry] if entry["files"] else [], "compact",
            deletion_vectors=[],  # rewrite via read() materializes DVs (Delta PURGE)
            written=target.schema.jsonValue(),
        )

    def _files_in_partitions(self, prior: dict, where: str) -> list[tuple]:
        """The live files of partitioned snapshot ``prior`` whose hive
        partition values satisfy ``where``: the predicate runs over one
        row per partition, its values cast to the recorded column types
        (built from pandas, a local relation: no Spark job)."""
        import pandas as pd
        import pyspark.sql.functions as F

        pcols = prior["partition_by"]
        schema = _recorded_schema(prior, self.root)
        inventory = self._file_inventory(prior)
        parts = sorted({_partition_of(f[1]) for f in inventory}, key=str)
        local = self.spark.createDataFrame(
            pd.DataFrame(
                [(i, *[dict(p).get(c) for c in pcols]) for i, p in enumerate(parts)],
                columns=["__i", *pcols],
            ),
            "__i int, " + ", ".join(f"`{c}` string" for c in pcols),
        )
        hit = local.select(
            "__i", *[F.col(c).cast(schema[c].dataType).alias(c) for c in pcols]
        ).filter(where)
        chosen = {parts[r["__i"]] for r in hit.collect()}
        return [f for f in inventory if _partition_of(f[1]) in chosen]

    def optimize(self, zorder_by: list[str], target_partitions: int = 8, bits: int = 8) -> int:
        """OPTIMIZE ZORDER analogue (reference docs/etl_processes.md:381-386,
        docs/data_model.md:289,296: `OPTIMIZE ... ZORDER BY (...)`).

        Each key column is binned into 2**bits buckets between its min/max
        (one cheap agg pass — no global sort, no collect of data rows),
        the per-column bucket indices are bit-interleaved into a Morton
        z-value, and the snapshot is range-repartitioned + sorted on it.
        Result: every output file covers a compact hyper-rectangle in ALL
        zorder columns, so min/max footer stats skip files for predicates
        on any of them — unlike a lexicographic sort, which only helps the
        leading column. Columnar min/max skipping is the reader's job
        (Spark's parquet filter pushdown uses the same footers Delta's
        data skipping reads).
        """
        from pyspark.sql import functions as F

        prior = self._head("optimize")
        df = self.read(_snapshot=prior)
        n_bins = 1 << bits
        bounds = df.agg(
            *[F.min(c).alias(f"{c}_min") for c in zorder_by],
            *[F.max(c).alias(f"{c}_max") for c in zorder_by],
        ).first()
        zval = F.lit(0).cast("long")
        k = len(zorder_by)
        for ci, c in enumerate(zorder_by):
            lo, hi = bounds[f"{c}_min"], bounds[f"{c}_max"]
            if lo is None or hi == lo:
                continue
            bucket = F.least(
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit((float(hi) - float(lo)) / n_bins)
                ).cast("long"),
                F.lit(n_bins - 1),
            )
            for bit in range(bits):
                zval = zval + (F.shiftright(bucket, bit).bitwiseAND(F.lit(1))).cast(
                    "long"
                ) * F.lit(1 << (bit * k + ci))
        clustered = (
            df.withColumn("__z", zval)
            .repartitionByRange(target_partitions, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        entry = self._write_dir_entry(clustered, prior)
        return self._commit(
            prior, [entry], "optimize-zorder", deletion_vectors=[],
            written=clustered.schema.jsonValue(),
        )

    def clone_to(
        self,
        dest_root: str,
        version: int | None = None,
        deep: bool = False,
    ) -> "LakeTable":
        """:meth:`Log.clone_to`, a SHALLOW CLONE, as a LakeTable; or with
        ``deep=True`` (Delta DEEP CLONE): the snapshot is MATERIALIZED
        into the clone's own data dir — self-contained, survives source
        vacuum. Implemented as a rewrite of the logical snapshot rather
        than a file-by-file copy: deletion vectors are applied (their
        row addresses name SOURCE file paths and would dangle against
        copies), files come out right-sized, and column-mapped tables
        materialize under their logical schema (dead names stay
        reserved). At 100 TB a deep clone is a full copy either way."""
        if not deep:
            super().clone_to(dest_root, version)
            return LakeTable(self.spark, dest_root)
        m = self._manifest(version) if version is not None else self._head("clone_to")
        dest = LakeTable(self.spark, dest_root)
        if dest.exists():
            raise ValueError(f"clone destination {dest_root!r} already exists")
        os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)
        snap = self.read(_snapshot=m)
        new = {"version": 0}
        entry = dest._write_dir_entry(snap, new, m["partition_by"])
        dest._commit(
            new, [entry] if entry["files"] else [], "clone-deep",
            # the copies hold the logical names: the schema widens to them
            written=snap.schema.jsonValue(),
            # deletion vectors were applied by read(): rows already gone
            **{**_metadata(m), "deletion_vectors": []},
        )
        return dest

    # ---------------- statistics (§4: ANALYZE TABLE analogue) -------------

    def analyze(self, columns: list[str] | None = None) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` analogue.

        The reference turns on CBO + histogram statistics
        (src/glue_etl.py:535-539); Catalyst's cost-based rules only bite
        when rowCount / NDV / min-max are real. One aggregation pass
        computes table row count and per-column null count, min, max, and
        approx NDV (HLL — the 100 TB-safe distinct), persisted as a
        version-keyed sidecar under ``_stats/`` so statistics travel with
        time travel and survive restarts. Callers (and humans) use them to
        pick broadcast sides, bucket counts, and partition columns.
        """
        import pyspark.sql.functions as F

        head = self.current_version()
        df = self.read(version=head)
        atomic = {
            "byte", "short", "integer", "long", "float", "double", "decimal",
            "string", "boolean", "date", "timestamp", "timestamp_ntz",
        }
        cols = columns or [
            f.name for f in df.schema.fields if f.dataType.typeName() in atomic
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
            ]
        row = df.agg(*aggs).collect()[0].asDict()

        def _json(v):
            return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

        stats = {
            "version": head,
            "row_count": row["__n"],
            "columns": {
                c: {
                    "min": _json(row[f"{c}__min"]),
                    "max": _json(row[f"{c}__max"]),
                    "null_count": row[f"{c}__nulls"],
                    "ndv_approx": row[f"{c}__ndv"],
                }
                for c in cols
            },
            "analyzed_at": time.time(),
        }
        stats_dir = os.path.join(self.root, "_stats")
        os.makedirs(stats_dir, exist_ok=True)
        with open(os.path.join(stats_dir, f"v{stats['version']:08d}.json"), "w") as f:
            json.dump(stats, f)
        return stats

    def stats(self, version: int | None = None) -> dict | None:
        """Read the stats sidecar for ``version`` (default: current), or
        None if that version was never analyzed."""
        v = version if version is not None else self.current_version()
        p = os.path.join(self.root, "_stats", f"v{v:08d}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
