"""LakeTable storage semantics: versioned overwrite/append/merge,
create-if-absent, time travel, compaction, vacuum (SURVEY §2.2 K1-K7)."""

import pyspark.sql.functions as F
import pytest

from ecommerce_lakehouse_spark.lake import LakeTable, merge_upsert

# end-to-end storage/streaming/property tier (README two-tier note):
# the fast path skips these with  -m "not slow"
pytestmark = pytest.mark.slow


@pytest.fixture()
def tbl(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, part string")


def test_create_if_absent_then_merge(spark, tbl):
    assert not tbl.exists()
    # K6: merge on absent table falls back to initial write
    tbl.merge(_df(spark, [(1, "a", "x"), (2, "b", "x")]), keys=["k"])
    assert tbl.exists()
    assert tbl.current_version() == 1

    # K5: matched row updated, unmatched kept, new row inserted
    tbl.merge(_df(spark, [(2, "B", "x"), (3, "c", "y")]), keys=["k"])
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_pure(spark):
    target = _df(spark, [(1, "a", "x"), (2, "b", "x")])
    updates = _df(spark, [(2, "B", "x"), (3, "c", "y")])
    got = {(r.k, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_append_and_time_travel(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]), partition_by=["part"])
    tbl.append(_df(spark, [(2, "b", "y")]))
    assert tbl.read().count() == 2
    # time travel to v1
    assert tbl.read(version=1).count() == 1
    ops = [m["operation"] for m in tbl.history()]
    assert ops == ["overwrite", "append"]


def test_partition_pruning_layout(spark, tbl, tmp_path):
    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    pruned = tbl.read().filter(F.col("part") == "x")
    assert pruned.count() == 1
    # partition dirs exist on disk (hive layout → partition pruning works)
    import glob

    assert glob.glob(str(tmp_path / "t/data/v*/part=x"))


def test_compact_and_vacuum(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]))
    tbl.append(_df(spark, [(2, "b", "x")]))
    tbl.compact(target_partitions=1)
    assert tbl.read().count() == 2
    removed = tbl.vacuum(keep_last=1)
    assert removed  # old version dirs cleaned
    assert tbl.read().count() == 2


def test_merge_partition_pruned_rewrite(spark, tbl, tmp_path):
    """A MERGE touching one partition must leave other partitions' files
    byte-identical (partition-pruned copy-on-write, Delta's matched-file
    rewrite semantics — reference src/glue_etl.py:442-458 at scale)."""
    import glob
    import hashlib

    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (4, "d", "z")]),
        partition_by=["part"],
    )

    def files_with_hashes(pat):
        out = {}
        for f in sorted(glob.glob(str(tmp_path / "t/data") + pat)):
            with open(f, "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    y_before = files_with_hashes("/v00000001-*/part=y/*.parquet")
    z_before = files_with_hashes("/v00000001-*/part=z/*.parquet")
    assert y_before and z_before

    # update k=2 in partition x, insert k=5 into partition w
    tbl.merge(_df(spark, [(2, "B", "x"), (5, "e", "w")]), keys=["k"])

    # untouched partitions: identical files, no new copies written for them
    assert files_with_hashes("/v00000001-*/part=y/*.parquet") == y_before
    assert files_with_hashes("/v00000001-*/part=z/*.parquet") == z_before
    assert not glob.glob(str(tmp_path / "t/data/v00000002-*/part=y"))
    assert not glob.glob(str(tmp_path / "t/data/v00000002-*/part=z"))
    # touched + new partitions live in the new dir
    assert glob.glob(str(tmp_path / "t/data/v00000002-*/part=x"))
    assert glob.glob(str(tmp_path / "t/data/v00000002-*/part=w"))

    got = {(r.k, r.v, r.part) for r in tbl.read().collect()}
    assert got == {
        (1, "a", "x"), (2, "B", "x"), (3, "c", "y"), (4, "d", "z"), (5, "e", "w"),
    }
    # time travel still sees the pre-merge snapshot
    assert {(r.k, r.v) for r in tbl.read(version=1).collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    }


def test_merge_key_moved_partitions(spark, tbl):
    """A key whose partition value changes in the update must not survive
    twice: its OLD partition is also touched (Delta's matched-file join)."""
    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    tbl.merge(_df(spark, [(1, "A", "y")]), keys=["k"])  # k=1 moves x -> y
    got = {(r.k, r.v, r.part) for r in tbl.read().collect()}
    assert got == {(1, "A", "y"), (2, "b", "y")}


def test_merge_chain_then_vacuum(spark, tbl):
    """Two successive pruned merges accumulate exclusion masks correctly,
    and vacuum keeps dirs still referenced by the latest manifest."""
    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]),
        partition_by=["part"],
    )
    tbl.merge(_df(spark, [(1, "A", "x")]), keys=["k"])
    tbl.merge(_df(spark, [(2, "B", "y")]), keys=["k"])
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c")}
    tbl.vacuum(keep_last=1)
    # v1's dir is still live (holds partition z) — read must survive vacuum
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c")}


def test_delete_partition_pruned(spark, tbl, tmp_path):
    """DELETE rewrites only partitions containing matches; other
    partitions' files are untouched; history records the op."""
    import glob

    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]),
        partition_by=["part"],
    )
    tbl.delete(F.col("k") == 1)
    assert {(r.k, r.v) for r in tbl.read().collect()} == {(2, "b"), (3, "c")}
    # partition y untouched: no y dir written in v2
    assert not glob.glob(str(tmp_path / "t/data/v00000002-*/part=y"))
    assert tbl.history()[-1]["operation"] == "delete"
    # string-condition form + no-op delete returns current version
    v = tbl.delete("k = 999")
    assert v == tbl.current_version()
    assert tbl.read().count() == 2


def test_update_partition_pruned(spark, tbl, tmp_path):
    """UPDATE SET v WHERE cond rewrites only matching partitions and
    refuses to modify partition columns."""
    import glob

    import pytest as _pytest

    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    tbl.update("k = 1", {"v": "upper(v)"})
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "A"), (2, "b")}
    assert not glob.glob(str(tmp_path / "t/data/v00000002-*/part=y"))
    with _pytest.raises(ValueError, match="partition columns"):
        tbl.update("k = 1", {"part": "'z'"})


def test_merge_schema_evolution(spark, tbl):
    """MERGE with updates carrying a NEW column: existing rows get NULL,
    update rows carry the value (Delta autoMerge semantics)."""
    tbl.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "x")]), partition_by=["part"])
    updates = spark.createDataFrame(
        [(2, "B", "x", "extra")], "k int, v string, part string, note string"
    )
    tbl.merge(updates, keys=["k"])
    rows = {r.k: r for r in tbl.read().collect()}
    assert rows[2].v == "B" and rows[2].note == "extra"
    assert rows[1].v == "a" and rows[1].note is None


def test_optimistic_concurrency_detects_conflicts(spark, tbl):
    """Delta-style OCC: a commit whose base version is stale, or that
    loses the race for a version's manifest file, raises instead of
    silently clobbering the other writer."""
    import json
    import os

    import pytest as _pytest

    from ecommerce_lakehouse_spark.lake import ConcurrentWriteError

    tbl.overwrite(_df(spark, [(1, "a", "x")]))
    stale = tbl._manifest(tbl.current_version())

    # writer B commits in between
    tbl.append(_df(spark, [(2, "b", "x")]))

    # writer A tries to commit against its stale snapshot
    with _pytest.raises(ConcurrentWriteError, match="advanced"):
        tbl._commit(stale, ["/nonexistent"], "merge")

    # helper: simulate a concurrent writer committing version v as a
    # metadata-only copy of the current head (real data_dirs — a
    # rebasing loser rebuilds its entries on top of this manifest)
    def _plant(v):
        m = dict(tbl._manifest(tbl.current_version()))
        m["version"] = v
        m["operation"] = "concurrent-noop"
        m["touched_partitions"] = []
        with open(
            os.path.join(tbl._manifest_dir, f"v{v:08d}.json"), "w"
        ) as f:
            json.dump(m, f)

    # a complete next-version manifest left by ANOTHER writer is a
    # durable commit (the link is the commit point; _LATEST is a cache):
    # this writer observes it via roll-forward and commits on top — no
    # false conflict
    nxt = tbl.current_version() + 1
    _plant(nxt)
    tbl.append(_df(spark, [(3, "c", "x")]))
    assert tbl.current_version() == nxt + 1

    # manifest-file race: a competing writer links the SAME version in
    # the window between this writer's manifest staging and its link —
    # the loser must never clobber (simulated at the fault-injection
    # seam; see tests/test_lake_fault_injection.py)
    import ecommerce_lakehouse_spark.lake.log as lake_log

    saved_hook = lake_log._crash_hook

    fired = {"n": False}

    def racer(point):
        if point == "manifest_tmp_written" and not fired["n"]:
            fired["n"] = True
            _plant(tbl.current_version() + 1)

    race_v = tbl.current_version() + 1
    lake_log._crash_hook = racer
    try:
        # blind append loses the link, auto-rebases over the planted
        # winner, and lands one version later — the Delta retry loop
        tbl.append(_df(spark, [(4, "d", "x")]))
    finally:
        lake_log._crash_hook = saved_hook
    assert tbl.current_version() == race_v + 1

    # a non-rebasable op (full-table overwrite) surfaces the race to
    # the caller instead of retrying blind
    fired["n"] = False
    lake_log._crash_hook = racer
    try:
        with _pytest.raises(ConcurrentWriteError):
            tbl.overwrite(_df(spark, [(9, "z", "x")]))
    finally:
        lake_log._crash_hook = saved_hook

    assert {(r.k, r.v) for r in tbl.read().collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    }


def test_merge_requires_unique_update_keys(spark, tbl):
    # SURVEY §7.5: dedup precedes merge; duplicate update keys double-insert
    # in the pure relational form, so upstream dedup is a correctness
    # precondition. Verify the engine's dedup_by_key provides it.
    from ecommerce_lakehouse_spark.operators import dedup_by_key

    dups = _df(spark, [(1, "new", "x"), (1, "newer", "x")])
    deduped = dedup_by_key(dups, ["k"], [F.desc("v")])
    assert deduped.count() == 1


def test_optimize_zorder_clusters_all_dims(spark, tmp_path):
    """Z-order vs lexicographic sort: after optimize(zorder_by=[x, y]),
    every file must cover a NARROW y-span too (so min/max footers can skip
    files for y-only predicates). A plain x-sort leaves each file spanning
    the full y range."""
    import glob
    import random

    random.seed(7)
    rows = [(random.randint(0, 9999), random.randint(0, 9999)) for _ in range(20000)]
    df = spark.createDataFrame(rows, ["x", "y"])

    t = LakeTable(spark, str(tmp_path / "zt"))
    t.overwrite(df)
    t.optimize(zorder_by=["x", "y"], target_partitions=16)
    assert t.history()[-1]["operation"] == "optimize-zorder"
    assert t.read().count() == 20000

    data_dir = t._manifest(t.current_version())["data_dirs"][0]["path"]
    files = glob.glob(f"{data_dir}/*.parquet")
    assert len(files) >= 8
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("y").alias("lo"), F.max("y").alias("hi")
        ).first()
        spans.append(r["hi"] - r["lo"])
    avg_span = sum(spans) / len(spans)
    # x-sorted layout would give ~10000 per file; z-order must be well under
    assert avg_span < 6000, f"avg y-span {avg_span} — not clustered in y"


def test_merge_aggregate_incremental_rollup(spark, tmp_path):
    """Hypertable-style continuous aggregate: day-2 events touch only their
    buckets; totals equal a full recompute."""
    from ecommerce_lakehouse_spark.lake import merge_aggregate

    day1 = spark.createDataFrame(
        [("2025-01-01", "click", 10, 100.0), ("2025-01-01", "view", 5, 50.0)],
        ["bucket", "event_type", "n", "total"],
    )
    t = LakeTable(spark, str(tmp_path / "rollup"))
    t.overwrite(day1)

    day2_delta = spark.createDataFrame(
        [("2025-01-01", "click", 3, 30.0), ("2025-01-02", "click", 7, 70.0)],
        ["bucket", "event_type", "n", "total"],
    )
    refreshed = merge_aggregate(
        t.read(), day2_delta, keys=["bucket", "event_type"], sum_cols=["n", "total"]
    )
    t.overwrite(refreshed)

    got = {(r["bucket"], r["event_type"]): (r["n"], r["total"]) for r in t.read().collect()}
    assert got == {
        ("2025-01-01", "click"): (13, 130.0),
        ("2025-01-01", "view"): (5, 50.0),
        ("2025-01-02", "click"): (7, 70.0),
    }


def test_merge_aggregate_combines_null_keys_like_groupby(spark):
    """A NULL key's partials combine across folds, as a groupBy over the
    union of the batches groups them — the additive streaming states
    fold through merge_aggregate and must equal the batch query."""
    from ecommerce_lakehouse_spark.lake import merge_aggregate

    schema = "d string, cents long"
    state = spark.createDataFrame([(None, 1), ("x", 2)], schema)
    for batch in ([(None, 10)], [(None, 100), ("x", 20)]):
        state = merge_aggregate(state, spark.createDataFrame(batch, schema), ["d"], ["cents"])
    assert sorted(state.collect(), key=str) == sorted(
        [(None, 111), ("x", 22)], key=str
    )


def test_table_diff_between_versions(spark, tmp_path):
    """CDC-style change feed from time travel: diff(v1, v2) classifies
    inserts, deletes, and updates."""
    from ecommerce_lakehouse_spark.lake import table_diff

    t = LakeTable(spark, str(tmp_path / "cdc"))
    v1 = t.overwrite(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "s", "v"])
    )
    v2 = t.overwrite(
        spark.createDataFrame([(1, "a", 10), (2, "b", 99), (4, "d", 40)], ["id", "s", "v"])
    )
    diff = table_diff(t.read(v1), t.read(v2), keys=["id"])
    got = {r["id"]: r["change_type"] for r in diff.collect()}
    assert got == {2: "update", 3: "delete", 4: "insert"}


def test_analyze_stats_sidecar(spark, sf_dir, tmp_path):
    """analyze() computes row count + per-column min/max/nulls/approx-NDV
    in one pass and pins them to the version; stats() time-travels with
    the table."""
    t = LakeTable(spark, str(tmp_path / "stats_t"))
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t.overwrite(df)
    s1 = t.analyze()
    n = df.count()
    assert s1["row_count"] == n
    ok = s1["columns"]["o_orderkey"]
    assert ok["null_count"] == 0
    # approx NDV within 10% of exact distinct (keys are unique)
    assert abs(ok["ndv_approx"] - n) / n < 0.10
    assert s1["columns"]["o_totalprice"]["min"] is not None

    # new version: old stats stay readable, new version starts unanalyzed
    t.append(df.limit(10))
    assert t.stats() is None
    assert t.stats(version=s1["version"])["row_count"] == n
    s2 = t.analyze()
    assert s2["row_count"] == n + 10


# ---------- round-3 storage-layer depth: conflict resolution, file pruning ----------


def test_unpartitioned_merge_file_pruned(spark, tbl, tmp_path):
    """An unpartitioned MERGE must rewrite only the FILES whose key range
    intersects the updates (footer-stats pre-filter + exact touched-file
    scan); every other file passes through byte-identical by reference."""
    import glob
    import hashlib

    # 4 files with disjoint key ranges via repartitionByRange
    df = spark.createDataFrame([(i, f"v{i}", "p") for i in range(400)], "k int, v string, part string")
    tbl.overwrite(df.repartitionByRange(4, "k"))

    def hashes():
        out = {}
        for f in sorted(glob.glob(str(tmp_path / "t/data/*/*.parquet"))):
            with open(f, "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = hashes()
    assert len(before) == 4

    # update keys 0..9 — all inside ONE range file
    tbl.merge(
        spark.createDataFrame([(i, "UPD", "p") for i in range(10)], "k int, v string, part string"),
        keys=["k"],
    )

    # the new manifest carries 3 of the 4 original files forward BY NAME
    # (no copies) and replaces exactly the one file holding keys 0..9
    entries = tbl._manifest(tbl.current_version())["data_dirs"]
    live_listed = [e for e in entries if isinstance(e, dict) and e.get("live_files")]
    assert live_listed and sum(len(e["live_files"]) for e in live_listed) == 3
    carried = {
        f"{e['path']}/{rel}" for e in live_listed for rel in e["live_files"]
    }
    after = hashes()
    # carried files are the SAME paths with UNCHANGED bytes
    for f in carried:
        assert after[f] == before[f]
    # data correct
    got = {r.k: r.v for r in tbl.read().collect()}
    assert got[0] == "UPD" and got[9] == "UPD" and got[399] == "v399"
    assert len(got) == 400


def test_unpartitioned_merge_footer_stats_prune(spark, tbl):
    """The footer-stats pre-filter alone must exclude non-intersecting
    files before any data scan (plan-level proof of data skipping)."""
    from ecommerce_lakehouse_spark.lake.table import _ranges_intersect

    df = spark.createDataFrame([(i, "x", "p") for i in range(100)], "k int, v string, part string")
    tbl.overwrite(df.repartitionByRange(4, "k"))
    inv = tbl._file_inventory(tbl._manifest(tbl.current_version()))
    assert len(inv) == 4
    assert all(stats and "k" in stats for _, _, stats in inv)
    hits = [f for f in inv if _ranges_intersect(f[2], {"k": (0, 5)})]
    assert len(hits) == 1  # 3 of 4 files proven non-intersecting by footers


def test_unpartitioned_delete_update_file_pruned(spark, tbl, tmp_path):
    """Unpartitioned DELETE/UPDATE rewrite only files containing matches."""
    import glob
    import hashlib

    df = spark.createDataFrame([(i, i % 7, "p") for i in range(300)], "k int, v int, part string")
    tbl.overwrite(df.repartitionByRange(3, "k"))

    def hashes():
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(str(tmp_path / "t/data/*/*.parquet")))
        }

    def carried_live():
        entries = tbl._manifest(tbl.current_version())["data_dirs"]
        return [
            f"{e['path']}/{rel}"
            for e in entries
            if isinstance(e, dict) and e.get("live_files")
            for rel in e["live_files"]
        ]

    before = hashes()
    tbl.delete("k < 10")  # only the first range file contains matches
    live = carried_live()
    assert len(live) == 2  # two of three files pass through by name
    after = hashes()
    assert all(after[f] == before[f] for f in live)
    assert tbl.read().count() == 290

    tbl.update("k >= 290", {"v": "v + 1000"})
    # only the last range file rewritten; at least the 2 carried files again
    assert len(carried_live()) == 2
    got = {r.k: r.v for r in tbl.read().collect()}
    assert got[295] == 295 % 7 + 1000 and got[100] == 100 % 7


def test_delete_keeps_null_condition_rows(spark, tbl):
    """DELETE removes rows where cond is TRUE; NULL-evaluating rows stay
    (SQL 3-valued logic — ADVICE issue)."""
    df = spark.createDataFrame(
        [(1, None, "x"), (2, "drop", "x"), (3, "keep", "x")], "k int, v string, part string"
    )
    tbl.overwrite(df)
    tbl.delete(F.col("v") == "drop")
    assert {r.k for r in tbl.read().collect()} == {1, 3}


def test_null_partition_value_survives_pruned_dml(spark, tbl):
    """Rows in a NULL-valued partition must survive partition-pruned DML
    on other partitions (null-safe partition predicates — ADVICE issue)."""
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y")], "k int, v string, part string"
    )
    tbl.overwrite(df, partition_by=["part"])
    tbl.merge(_df(spark, [(2, "B", "x")]), keys=["k"])
    got = {(r.k, r.v, r.part) for r in tbl.read().collect()}
    assert got == {(1, "a", None), (2, "B", "x"), (3, "c", "y")}
    # and DML on the NULL partition itself works
    tbl.update(F.col("part").isNull(), {"v": "upper(v)"})
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c")}


def test_concurrent_disjoint_appends_both_commit(spark, tmp_path):
    """Two appends racing: the loser auto-rebases (blind add) — both
    commit with no caller retry, no data lost (Delta blind-append
    semantics)."""
    root = str(tmp_path / "cc")
    a = LakeTable(spark, root)
    b = LakeTable(spark, root)
    a.overwrite(_df(spark, [(1, "a", "x")]), partition_by=["part"])

    # interleave: while A's append is mid-flight (after snapshotting its
    # base), B commits an append
    orig = LakeTable._new_data_dir
    fired = {}

    def hooked(self, prior):
        if self is a and "done" not in fired:
            fired["done"] = True
            b.append(_df(spark, [(2, "b", "y")]))
        return orig(self, prior)

    LakeTable._new_data_dir = hooked
    try:
        a.append(_df(spark, [(3, "c", "z")]))
    finally:
        LakeTable._new_data_dir = orig

    got = {(r.k, r.v, r.part) for r in a.read().collect()}
    assert got == {(1, "a", "x"), (2, "b", "y"), (3, "c", "z")}
    ops = [m["operation"] for m in a.history()]
    assert ops == ["overwrite", "append", "append"]


def test_concurrent_disjoint_partition_merges_both_commit(spark, tmp_path):
    """Two merges touching DISJOINT partitions: loser auto-rebases."""
    root = str(tmp_path / "cc2")
    a = LakeTable(spark, root)
    b = LakeTable(spark, root)
    a.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]),
        partition_by=["part"],
    )

    orig = LakeTable._new_data_dir
    fired = {}

    def hooked(self, prior):
        if self is a and "done" not in fired:
            fired["done"] = True
            b.merge(_df(spark, [(2, "B", "y")]), keys=["k"])  # touches y only
        return orig(self, prior)

    LakeTable._new_data_dir = hooked
    try:
        a.merge(_df(spark, [(1, "A", "x")]), keys=["k"])  # touches x only
    finally:
        LakeTable._new_data_dir = orig

    got = {(r.k, r.v) for r in a.read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c")}


def test_concurrent_overlapping_merges_conflict(spark, tmp_path):
    """Two merges touching the SAME partition must still surface
    ConcurrentWriteError for the loser — no silent lost update."""
    import pytest as _pytest

    from ecommerce_lakehouse_spark.lake import ConcurrentWriteError

    root = str(tmp_path / "cc3")
    a = LakeTable(spark, root)
    b = LakeTable(spark, root)
    a.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "x")]), partition_by=["part"])

    orig = LakeTable._new_data_dir
    fired = {}

    def hooked(self, prior):
        if self is a and "done" not in fired:
            fired["done"] = True
            b.merge(_df(spark, [(2, "B", "x")]), keys=["k"])
        return orig(self, prior)

    LakeTable._new_data_dir = hooked
    try:
        with _pytest.raises(ConcurrentWriteError):
            a.merge(_df(spark, [(1, "A", "x")]), keys=["k"])
    finally:
        LakeTable._new_data_dir = orig
    # winner's commit intact
    assert {(r.k, r.v) for r in a.read().collect()} == {(1, "a"), (2, "B")}


def test_racing_writers_never_share_data_dirs(spark, tmp_path):
    """ADVICE high: the loser's data dir must never clobber the winner's
    files — dirs are uniquely named per writer, and the winner's committed
    data survives the loser's entire write+fail cycle."""
    import pytest as _pytest

    from ecommerce_lakehouse_spark.lake import ConcurrentWriteError

    root = str(tmp_path / "cc4")
    a = LakeTable(spark, root)
    b = LakeTable(spark, root)
    a.overwrite(_df(spark, [(1, "a", "x")]))

    orig = LakeTable._new_data_dir
    fired = {}

    def hooked(self, prior):
        if self is a and "done" not in fired:
            fired["done"] = True
            b.overwrite(_df(spark, [(9, "winner", "x")]))
        return orig(self, prior)

    LakeTable._new_data_dir = hooked
    try:
        with _pytest.raises(ConcurrentWriteError):
            a.overwrite(_df(spark, [(8, "loser", "x")]))
    finally:
        LakeTable._new_data_dir = orig
    # the winner's committed snapshot is fully readable (no clobbered files)
    assert {(r.k, r.v) for r in b.read().collect()} == {(9, "winner")}


def test_superseded_dir_dropped_and_vacuumed(spark, tbl, tmp_path):
    """A dir whose every file is superseded by later DML leaves the
    manifest, so vacuum reclaims it (ADVICE: no monotonic growth)."""
    import glob

    tbl.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    v1_dirs = set(glob.glob(str(tmp_path / "t/data/v00000001-*")))
    assert len(v1_dirs) == 1
    # merge touches BOTH partitions -> v1 dir fully superseded
    tbl.merge(_df(spark, [(1, "A", "x"), (2, "B", "y")]), keys=["k"])
    entries = tbl._manifest(tbl.current_version())["data_dirs"]
    paths = {e["path"] if isinstance(e, dict) else e for e in entries}
    assert not (paths & v1_dirs)  # superseded entry dropped
    tbl.vacuum(keep_last=1)
    assert not any(glob.glob(str(tmp_path / "t/data/v00000001-*")))
    assert {(r.k, r.v) for r in tbl.read().collect()} == {(1, "A"), (2, "B")}


def test_txn_idempotent_replay(spark, tmp_path):
    """Delta txn pattern: a replayed foreachBatch (same batch id) must not
    double-add into the additive rollup."""
    import datetime

    from ecommerce_lakehouse_spark.streaming.jobs import apply_rollup_batch

    t = LakeTable(spark, str(tmp_path / "rollup_txn"))
    batch = spark.createDataFrame(
        [(datetime.datetime(2025, 1, 1, 10, 5), "click", 2.0)],
        "ts timestamp, event_type string, value double",
    )
    apply_rollup_batch(t, batch, batch_id=0)
    first = {(r.event_type): (r.n_events, r.total_value) for r in t.read().collect()}
    assert first == {"click": (1, 2.0)}
    # replay the SAME batch id (crash between table commit and checkpoint)
    apply_rollup_batch(t, batch, batch_id=0)
    assert {(r.event_type): (r.n_events, r.total_value) for r in t.read().collect()} == first
    # the NEXT batch id applies
    apply_rollup_batch(t, batch, batch_id=1)
    assert {(r.event_type): (r.n_events, r.total_value) for r in t.read().collect()} == {
        "click": (2, 4.0)
    }
    assert t.last_txn("stream_rollup") == 1


# ------------------------------------------------- CHECK constraints


def _mk_orders(spark, tmp_path, name="cons"):
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / name))
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)], "id int, status string, amount double"
    )
    t.overwrite(df)
    return t


def test_constraint_rejects_bad_append_and_allows_good(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

    t = _mk_orders(spark, tmp_path)
    t.add_constraint("amount_positive", "amount > 0")
    t.add_constraint("status_known", "status IN ('A','B','C')")
    assert set(t.constraints()) == {"amount_positive", "status_known"}

    good = spark.createDataFrame([(3, "C", 5.0)], "id int, status string, amount double")
    t.append(good)  # passes both

    bad = spark.createDataFrame(
        [(4, "Z", -1.0)], "id int, status string, amount double"
    )
    v = t.current_version()
    with pytest.raises(ConstraintViolationError) as ei:
        t.append(bad)
    assert set(ei.value.violated) == {"amount_positive", "status_known"}
    assert t.current_version() == v  # nothing committed


def test_constraint_null_evaluating_rows_violate(spark, tmp_path):
    # Delta semantics: a CHECK must be provably TRUE; NULL amount fails.
    import pytest

    from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

    t = _mk_orders(spark, tmp_path)
    t.add_constraint("amount_positive", "amount > 0")
    nullrow = spark.createDataFrame(
        [(5, "A", None)], "id int, status string, amount double"
    )
    with pytest.raises(ConstraintViolationError):
        t.append(nullrow)


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

    t = _mk_orders(spark, tmp_path)
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("big_amount", "amount > 15")  # row id=1 fails
    assert t.constraints() == {}


def test_constraint_enforced_on_merge_and_update_survives_versions(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

    t = _mk_orders(spark, tmp_path)
    t.add_constraint("amount_positive", "amount > 0")
    # constraint must ride along later data commits
    t.append(spark.createDataFrame([(6, "A", 1.0)], "id int, status string, amount double"))
    assert "amount_positive" in t.constraints()

    bad_upd = spark.createDataFrame(
        [(1, "A", -99.0)], "id int, status string, amount double"
    )
    with pytest.raises(ConstraintViolationError):
        t.merge(bad_upd, keys=["id"])
    with pytest.raises(ConstraintViolationError):
        t.update("id = 2", {"amount": "-5.0"})

    t.drop_constraint("amount_positive")
    t.update("id = 2", {"amount": "-5.0"})  # now allowed
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[2] == -5.0


# --------------------------------------- time travel / restore / schema


def test_timestamp_time_travel_and_restore(spark, tmp_path):
    import time as _time

    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "tt"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))
    ts_v1 = _time.time()
    _time.sleep(0.05)
    t.overwrite(spark.createDataFrame([(2, "b")], "id int, v string"))

    # timestampAsOf resolves to the version committed at/before ts
    assert t.version_as_of(ts_v1) == 1
    assert [r.id for r in t.read(as_of_timestamp=ts_v1).collect()] == [1]
    import pytest

    with pytest.raises(ValueError, match="no version"):
        t.version_as_of(0.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of_timestamp=ts_v1)

    # RESTORE commits a NEW version with the old content; history intact
    v = t.restore(1)
    assert v == 3
    assert [r.id for r in t.read().collect()] == [1]
    assert [r.id for r in t.read(version=2).collect()] == [2]  # still travelable


def test_append_strict_schema_mode(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import LakeTable, SchemaMismatchError

    t = LakeTable(spark, str(tmp_path / "strict"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, v string"))

    # strict: same shape passes
    t.append(spark.createDataFrame([(2, "b")], "id int, v string"), schema_mode="strict")
    # strict: new column rejected, nothing committed
    v = t.current_version()
    with pytest.raises(SchemaMismatchError, match="new columns \\['extra'\\]"):
        t.append(
            spark.createDataFrame([(3, "c", 1.0)], "id int, v string, extra double"),
            schema_mode="strict",
        )
    # strict: type change rejected
    with pytest.raises(SchemaMismatchError, match="type changes"):
        t.append(
            spark.createDataFrame([("3", "c")], "id string, v string"),
            schema_mode="strict",
        )
    assert t.current_version() == v
    # merge (default) still evolves
    t.append(spark.createDataFrame([(3, "c", 1.0)], "id int, v string, extra double"))
    assert "extra" in t.read().columns
    with pytest.raises(ValueError, match="schema_mode"):
        t.append(spark.createDataFrame([(4, "d")], "id int, v string"), schema_mode="nope")


# ------------------------------------------------- read-path data skipping


def test_read_skipping_prunes_files_after_zorder(spark, tmp_path):
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "skip"))
    df = spark.createDataFrame(
        [(i, i % 50, f"v{i}") for i in range(2000)], "id int, k int, v string"
    )
    t.overwrite(df.repartition(8))
    # Z-order on (id): per-file id ranges become narrow, enabling skipping
    t.optimize(zorder_by=["id"], target_partitions=8)

    narrow = t.read_skipping({"id": (100, 120)})
    want = sorted(r.id for r in t.read().filter("id between 100 and 120").collect())
    assert sorted(r.id for r in narrow.collect()) == want
    # the skip read opened strictly fewer files than the snapshot holds
    assert len(narrow.inputFiles()) < len(t.read().inputFiles())

    # empty range: provably no file intersects -> zero-row frame, schema kept
    none = t.read_skipping({"id": (10_000, 20_000)})
    assert none.count() == 0 and set(none.columns) == {"id", "k", "v"}

    # half-open bounds
    top = t.read_skipping({"id": (1990, None)})
    assert sorted(r.id for r in top.collect()) == list(range(1990, 2000))


def test_read_skipping_partitioned_hybrid(spark, tmp_path):
    """Partitioned snapshots skip by hive path (partition equality) AND
    footer stats (data-column ranges), and keep doing so after DML: every
    dir merge, delete, update and compact(where=) write carries stats."""
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "pskip"))
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], i * 10) for i in range(300)],
        "id int, lang string, amount int",
    )
    # range-clustered on id: per-file id ranges are narrow enough to skip
    t.overwrite(df.repartitionByRange(2, "id"), partition_by=["lang"])

    # partition equality prune: only lang=b files open
    got = t.read_skipping({"lang": ("b", "b")})
    assert {r.lang for r in got.collect()} == {"b"}
    assert all("lang=b" in f for f in got.inputFiles())

    # data-column range prune via footer stats + exact filter
    got = t.read_skipping({"id": (10, 20)})
    assert sorted(r.id for r in got.collect()) == list(range(10, 21))
    assert len(got.inputFiles()) <= len(t.read().inputFiles())

    # after DML, every data-dir entry carries footer stats, so the
    # rewritten dirs skip like the first one and results stay exact
    upd = spark.createDataFrame([(5, "c", 999)], "id int, lang string, amount int")
    t.merge(upd, keys=["id"])
    t.delete("id = 7")
    t.update("id = 9", {"amount": "amount + 1"})
    t.compact(where="lang = 'a'")
    entries = t._manifest(t.current_version())["data_dirs"]
    assert len(entries) > 1 and all(e["files"] for e in entries), entries
    got = t.read_skipping({"id": (5, 5)})
    rows = got.collect()
    assert len(rows) == 1 and rows[0].amount == 999 and rows[0].lang == "c"
    assert len(got.inputFiles()) < len(t.read().inputFiles())


def test_generated_columns_compute_validate_backfill(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import (
        ConstraintViolationError,
        LakeTable,
    )

    t = LakeTable(spark, str(tmp_path / "gen"))
    t.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, amount double"))
    t.add_generated_column("amount_cents", "CAST(amount * 100 AS BIGINT)")

    # backfill happened copy-on-write
    got = {r.id: r.amount_cents for r in t.read().collect()}
    assert got == {1: 1000, 2: 2000}

    # writer omits the column -> computed
    t.append(spark.createDataFrame([(3, 30.0)], "id int, amount double"))
    assert {r.id: r.amount_cents for r in t.read().collect()}[3] == 3000

    # writer supplies AGREEING values -> accepted
    t.append(
        spark.createDataFrame(
            [(4, 40.0, 4000)], "id int, amount double, amount_cents bigint"
        )
    )
    # writer supplies DISAGREEING values -> rejected (Delta semantics)
    v = t.current_version()
    with pytest.raises(ConstraintViolationError, match="generated:amount_cents"):
        t.append(
            spark.createDataFrame(
                [(5, 50.0, 1)], "id int, amount double, amount_cents bigint"
            )
        )
    assert t.current_version() == v

    # merge path computes too
    t.merge(spark.createDataFrame([(1, 99.0)], "id int, amount double"), keys=["id"])
    assert {r.id: r.amount_cents for r in t.read().collect()}[1] == 9900


def test_read_skipping_boolean_partition_values(spark, tmp_path):
    # hive encodes booleans lowercase: equality bounds must still match
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "bskip"))
    df = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(20)], "id int, flag boolean"
    )
    t.overwrite(df, partition_by=["flag"])
    got = t.read_skipping({"flag": (True, True)})
    assert sorted(r.id for r in got.collect()) == [i for i in range(20) if i % 2 == 0]
    assert all("flag=true" in f for f in got.inputFiles())


def test_update_recomputes_generated_and_rejects_assigning_them(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "genupd"))
    t.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, amount double"))
    t.add_generated_column("amount_cents", "CAST(amount * 100 AS BIGINT)")
    t.update("id = 1", {"amount": "99.0"})
    got = {r.id: r.amount_cents for r in t.read().collect()}
    assert got == {1: 9900, 2: 2000}  # derived value followed the update
    with pytest.raises(ValueError, match="cannot SET generated"):
        t.update("id = 2", {"amount_cents": "1"})


def test_generated_column_cannot_shadow_existing_column(spark, tmp_path):
    import pytest

    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "genshadow"))
    t.overwrite(spark.createDataFrame([(1, 5)], "id int, n int"))
    with pytest.raises(ValueError, match="already exists"):
        t.add_generated_column("n", "id * 2")


def test_restore_restores_metadata_too(spark, tmp_path):
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "restmeta"))
    t.overwrite(spark.createDataFrame([(1, 10.0)], "id int, amount double"))  # v1
    t.add_generated_column("amount_cents", "CAST(amount * 100 AS BIGINT)")  # v2
    t.restore(1)  # rows WITHOUT the column come back...
    assert t.generated_columns() == {}  # ...so the definition must go too
    assert "amount_cents" not in t.read().columns
    # and appends after the restore are not governed by the dead definition
    t.append(spark.createDataFrame([(2, 20.0)], "id int, amount double"))
    assert "amount_cents" not in t.read().columns


def test_blind_append_conflicts_with_concurrent_metadata_change(spark, tmp_path):
    """Delta semantics: metadata changes conflict with everything — an
    append racing an add_generated_column must NOT silently rebase
    (its rows were never validated/computed against the new column)."""
    import pytest

    from ecommerce_lakehouse_spark.lake.table import ConcurrentWriteError, LakeTable

    root = str(tmp_path / "metarace")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 10.0)], "id int, amount double"))

    # simulate the race: writer A snapshots, writer B commits metadata,
    # then A's append tries to commit from the stale base
    writer_a = LakeTable(spark, root)
    df_a = spark.createDataFrame([(2, 20.0)], "id int, amount double")
    prior = writer_a._manifest(writer_a.current_version())
    entry = writer_a._write_dir_entry(df_a, prior)
    t.add_generated_column("amount_cents", "CAST(amount * 100 AS BIGINT)")  # B wins
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        writer_a._commit(
            prior,
            lambda head: head["data_dirs"] + [entry],
            "append",
            touched=[],
            blind=True,
        )


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    """Delta SHALLOW CLONE semantics: the clone references the source's
    files (no copy), then diverges copy-on-write — writes to either side
    never change what the other reads; clone vacuum can't touch source
    files; VERSION AS OF pins the cloned snapshot."""
    import glob

    from ecommerce_lakehouse_spark.lake.table import LakeTable

    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id int, k string, v double").coalesce(1)
    )  # v1
    src.append(spark.createDataFrame([(3, "a", 3.0)], "id int, k string, v double"))  # v2

    clone = src.clone_to(str(tmp_path / "clone"))
    # zero copy: no parquet landed under the clone's root
    assert not glob.glob(str(tmp_path / "clone/data/**/*.parquet"), recursive=True)
    assert sorted(r.id for r in clone.read().collect()) == [1, 2, 3]

    # divergence both ways
    clone.delete("id = 1")
    src.append(spark.createDataFrame([(4, "c", 4.0)], "id int, k string, v double"))
    assert sorted(r.id for r in clone.read().collect()) == [2, 3]
    assert sorted(r.id for r in src.read().collect()) == [1, 2, 3, 4]

    # clone's vacuum never reclaims source files
    clone.vacuum(keep_last=1)
    assert sorted(r.id for r in src.read().collect()) == [1, 2, 3, 4]

    # VERSION AS OF pins the snapshot; existing destination is rejected
    pinned = src.clone_to(str(tmp_path / "clone_v1"), version=1)
    assert sorted(r.id for r in pinned.read().collect()) == [1, 2]
    import pytest

    with pytest.raises(ValueError, match="already exists"):
        src.clone_to(str(tmp_path / "clone"))


def test_delete_emptying_partitions_keeps_table_readable(spark, tmp_path):
    """A DELETE that removes every row of the touched partitions (or the
    whole table) must not leave an empty rewrite dir in the manifest —
    reads after it previously failed parquet schema inference."""
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], "id int, k string, v double"
        ),
        partition_by=["k"],
    )
    t.delete("k = 'a'")  # empties the whole k=a partition
    assert sorted(r.id for r in t.read().collect()) == [2]

    # unpartitioned variant, down to the empty table
    u = LakeTable(spark, str(tmp_path / "u"))
    u.overwrite(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double").coalesce(1))
    u.delete("id >= 0")
    got = u.read()
    assert got.count() == 0 and got.columns == ["id", "v"]
    # and the feed still reports the deletions
    assert sorted(r.id for r in u.changes(2, 2).collect()) == [1, 2]


def test_post_write_constraint_validation_checks_written_bytes(spark, tmp_path):
    """ADVICE r03: overwrite/append validate CHECK constraints AFTER the
    write, against the written dir itself (immune to non-deterministic
    inputs re-evaluating differently between a pre-write check and the
    write). A violating batch must raise, leave NO orphan data dir, and
    not advance the version."""
    import os

    from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

    root = str(tmp_path / "pw")
    t = LakeTable(spark, root)
    t.overwrite(
        spark.createDataFrame([(1, "a")], "id int, k string"),
        constraints={"pos": "id > 0"},
    )
    v1 = t.current_version()
    dirs_before = set(os.listdir(os.path.join(root, "data")))
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(-5, "b")], "id int, k string"))
    assert set(os.listdir(os.path.join(root, "data"))) == dirs_before
    assert t.current_version() == v1
    # same-commit constraints on overwrite validate post-write too
    with pytest.raises(ConstraintViolationError):
        t.overwrite(
            spark.createDataFrame([(0, "c")], "id int, k string"),
            constraints={"pos": "id > 0"},
        )
    assert set(os.listdir(os.path.join(root, "data"))) == dirs_before
    assert [r.id for r in t.read().collect()] == [1]


def test_vacuum_time_based_retention(spark, tmp_path):
    """Reference parity (docs/data_model.md:310-316: retention by AGE).
    Versions inside the retention window survive — time travel to them
    still reads — while aged-out dirs are reclaimed; keep_last acts as a
    floor; keep_last=0 with a window excluding the current commit raises
    before reclaiming anything."""
    import json as _json
    import os
    import time as _time

    root = str(tmp_path / "tv")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, k string"))  # v1
    t.overwrite(spark.createDataFrame([(2, "b")], "id int, k string"))  # v2
    t.overwrite(spark.createDataFrame([(3, "c")], "id int, k string"))  # v3

    def _age(version, hours):
        p = os.path.join(root, "_manifest", f"v{version:08d}.json")
        m = _json.load(open(p))
        m["committed_at"] = _time.time() - hours * 3600
        _json.dump(m, open(p, "w"))

    _age(1, 100)  # v1: far outside a 24h window
    _age(2, 5)    # v2: inside
    # keep_last=1 floor + 24h window: v2, v3 protected; v1's dir reclaimed
    removed = t.vacuum(keep_last=1, retention_hours=24)
    assert len(removed) == 1
    assert [r.id for r in t.read(version=2).collect()] == [2]  # in-window time travel OK
    assert [r.id for r in t.read().collect()] == [3]
    with pytest.raises(Exception):  # aged-out version is genuinely gone
        t.read(version=1).collect()
    # floor protects even aged-out versions: nothing else reclaimable
    assert t.vacuum(keep_last=3, retention_hours=24) == []
    # too-aggressive: window excludes current, no floor -> loud refusal
    _age(3, 100)
    with pytest.raises(ValueError, match="CURRENT version"):
        t.vacuum(keep_last=0, retention_hours=24)
    assert [r.id for r in t.read().collect()] == [3]  # untouched


def test_auto_compact_partitioned_policy(spark, tmp_path):
    """Reference parity (config/settings.py:124-127: autoOptimize
    properties + file-size targets): with the auto_compact table property
    set, N small appends keep the per-partition live file count bounded;
    data is unchanged; and both CDF and the streaming source see the
    compaction commits as physical-only ops (nothing emitted)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from ecommerce_lakehouse_spark.lake.stream_source import (
        LakeTableStreamReader,
        _snapshot_arrow_schema,
    )

    root = str(tmp_path / "ac")
    t = LakeTable(spark, root)
    t.overwrite(
        spark.createDataFrame([(0, "a"), (100, "b")], "id int, k string"),
        partition_by=["k"],
    )  # v1
    t.set_properties({"auto_compact": True, "auto_compact_min_files": 3})  # v2
    for i in range(1, 7):
        t.append(spark.createDataFrame([(i, "a")], "id int, k string"))
    from collections import Counter

    inv = t._file_inventory(t._manifest(t.current_version()))
    counts = Counter(rel.split("/")[0] for _, rel, _ in inv)
    assert max(counts.values()) < 3 + 1, counts  # bounded, not monotone
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4, 5, 6, 100]
    ops = [h["operation"] for h in t.history()]
    assert "auto-compact" in ops
    # CDF over the whole history: compactions contribute no row changes
    ch = t.changes(starting_version=3)
    rows = [(r.id, r._change_type) for r in ch.collect()]
    assert sorted(rows) == [(i, "insert") for i in range(1, 7)]
    # stream source plans only v1 + the six append files
    schema = from_arrow_schema(_snapshot_arrow_schema(root))
    reader = LakeTableStreamReader(
        {"path": root, "startingversion": "earliest"}, schema
    )
    parts = reader.partitions(
        {"version": 0}, {"version": t.current_version()}
    )
    v1_files = len(
        [p for p in parts if p.version == 1]
    )
    assert len(parts) == v1_files + 6, [p.path for p in parts]


def test_auto_compact_unpartitioned_binpack(spark, tmp_path):
    """Unpartitioned auto-compaction bin-packs only files below
    target_file_bytes into ~target-sized outputs; file count stays
    bounded across many small appends and data is unchanged."""
    root = str(tmp_path / "acu")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(0, "x")], "id int, k string").coalesce(1))
    t.set_properties({"auto_compact": True, "auto_compact_min_files": 4})
    for i in range(1, 9):
        t.append(spark.createDataFrame([(i, "x")], "id int, k string").coalesce(1))
    inv = t._file_inventory(t._manifest(t.current_version()))
    assert len(inv) <= 4, [x[1] for x in inv]
    assert sorted(r.id for r in t.read().collect()) == list(range(9))
    assert "auto-compact" in [h["operation"] for h in t.history()]


def test_merge_schema_evolution_new_column(spark, tmp_path):
    """MERGE with a new column evolves the table (Delta
    withSchemaEvolution, SURVEY K4): updated/inserted rows carry the new
    column, untouched rows read back NULL-filled — on both the
    unpartitioned (file-pruned) and partitioned (partition-pruned)
    paths, where untouched files pass through under their old schema."""
    # unpartitioned: untouched files carried by name
    t = LakeTable(spark, str(tmp_path / "se"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ).repartition(3)
    )
    t.merge(
        spark.createDataFrame(
            [(2, "B", "n2"), (9, "I", "n9")], "k int, v string, note string"
        ),
        keys=["k"],
    )
    got = {(r.k, r.v, r.note) for r in t.read().collect()}
    assert got == {(1, "a", None), (2, "B", "n2"), (3, "c", None), (9, "I", "n9")}

    # partitioned: untouched partitions carried behind masks
    p = LakeTable(spark, str(tmp_path / "sep"))
    p.overwrite(
        spark.createDataFrame(
            [(1, "x", "p1"), (2, "y", "p2")], "k int, v string, part string"
        ),
        partition_by=["part"],
    )
    p.merge(
        spark.createDataFrame(
            [(2, "Y", "p2", 7.5)], "k int, v string, part string, score double"
        ),
        keys=["k"],
    )
    got = {(r.k, r.v, r.part, r.score) for r in p.read().collect()}
    assert got == {(1, "x", "p1", None), (2, "Y", "p2", 7.5)}


def test_auto_compact_loses_race_silently(spark, tmp_path):
    """The auto-compaction janitor is best-effort: when another writer
    commits between the triggering append and the compaction commit, the
    compaction swallows the OCC conflict (the data commit it trails is
    already durable) and no rows are lost; the next qualifying append
    retries it."""
    root = str(tmp_path / "acr")
    a = LakeTable(spark, root)
    b = LakeTable(spark, root)
    a.overwrite(
        spark.createDataFrame([(0, "a")], "id int, k string"), partition_by=["k"]
    )
    a.set_properties({"auto_compact": True, "auto_compact_min_files": 2})

    # interleave: while A's auto-compact is writing its dir (after the
    # append committed), B lands another append — compact's base is stale
    orig = LakeTable._write_dir_entry
    state = {"appends": 0}

    def hooked(self, df, prior):
        entry = orig(self, df, prior)
        # fire B's append during A's *compaction* write (the write that
        # follows an append once the threshold is crossed)
        if state.get("arm") and "fired" not in state:
            state["fired"] = True
            bdf = spark.createDataFrame([(99, "a")], "id int, k string")
            # avoid recursive auto-compact storms in the interleaved append
            LakeTable._write_dir_entry = orig
            try:
                b.append(bdf)
            finally:
                LakeTable._write_dir_entry = hooked
        return entry

    LakeTable._write_dir_entry = hooked
    try:
        a.append(spark.createDataFrame([(1, "a")], "id int, k string"))
        state["arm"] = True  # next write call is a compaction (threshold hit)
        a.append(spark.createDataFrame([(2, "a")], "id int, k string"))
    finally:
        LakeTable._write_dir_entry = orig

    got = sorted(r.id for r in a.read().collect())
    assert got == [0, 1, 2, 99]  # nothing lost, no exception surfaced
    # a later append may compact successfully; data still intact
    a.append(spark.createDataFrame([(3, "a")], "id int, k string"))
    assert sorted(r.id for r in a.read().collect()) == [0, 1, 2, 3, 99]


def test_apply_changes_closes_cdc_loop(spark, tmp_path):
    """APPLY CHANGES INTO: replaying one table's change feed into another
    reproduces the source exactly — inserts, merge updates, deletes, with
    latest-sequence-wins and preimages dropped."""
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ).coalesce(1)
    )
    src.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), keys=["k"]
    )
    src.delete("k = 1")
    feed = src.changes(starting_version=1, keys=["k"])
    dst = LakeTable(spark, str(tmp_path / "dst"))
    dst.apply_changes(feed, keys=["k"], sequence_col="_commit_version")
    assert {(r.k, r.v) for r in dst.read().collect()} == {
        (r.k, r.v) for r in src.read().collect()
    } == {(2, "B"), (3, "c"), (4, "d")}
    assert dst.history()[-1]["operation"] in ("overwrite",)  # created fresh

    # incremental: more source DML, apply only the NEW commits
    v = src.current_version()
    src.merge(spark.createDataFrame([(3, "C3")], "k int, v string"), keys=["k"])
    src.delete("k = 4")
    dst.apply_changes(
        src.changes(starting_version=v + 1, keys=["k"]),
        keys=["k"],
        sequence_col="_commit_version",
    )
    assert {(r.k, r.v) for r in dst.read().collect()} == {
        (r.k, r.v) for r in src.read().collect()
    } == {(2, "B"), (3, "C3")}
    assert dst.history()[-1]["operation"] == "apply_changes"


def test_apply_changes_partitioned_pruned_and_out_of_order(spark, tmp_path):
    """A CDC batch lands partition-pruned (untouched partitions'
    files byte-identical, masked not rewritten), latest sequence wins
    over late-arriving older changes, and a batch that deletes every
    touched row commits cleanly (no fileless dir)."""
    import glob as _glob
    import hashlib

    def _hashes(pat):
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(_glob.glob(pat))
        }

    root = str(tmp_path / "p")
    t = LakeTable(spark, root)
    t.overwrite(
        spark.createDataFrame(
            [(1, "x", "p1"), (2, "y", "p2")], "k int, v string, part string"
        ),
        partition_by=["part"],
    )
    p2_before = _hashes(root + "/data/*/part=p2/*.parquet")
    assert p2_before
    cdc = spark.createDataFrame(
        [
            (1, "x-new", "p1", "update_postimage", 7),
            (1, "x-old", "p1", "update_postimage", 5),  # late, older: ignored
            (3, "z", "p1", "insert", 6),
        ],
        "k int, v string, part string, _change_type string, _commit_version int",
    )
    t.apply_changes(cdc, keys=["k"], sequence_col="_commit_version")
    got = {(r.k, r.v, r.part) for r in t.read().collect()}
    assert got == {(1, "x-new", "p1"), (2, "y", "p2"), (3, "z", "p1")}
    assert _hashes(root + "/data/*/part=p2/*.parquet") == p2_before

    # delete every row of the touched partition: no fileless dir committed
    wipe = spark.createDataFrame(
        [(1, None, "p1", "delete", 8), (3, None, "p1", "delete", 8)],
        "k int, v string, part string, _change_type string, _commit_version int",
    )
    t.apply_changes(wipe, keys=["k"], sequence_col="_commit_version")
    assert {(r.k, r.part) for r in t.read().collect()} == {(2, "p2")}


def test_append_rejects_partition_scheme_change(spark, tmp_path):
    """Delta parity: an append cannot silently change the partitioning
    scheme (mixed hive layouts would corrupt mask-based DML pruning) —
    repartitioning is an explicit overwrite."""
    from ecommerce_lakehouse_spark.lake.table import SchemaMismatchError

    t = LakeTable(spark, str(tmp_path / "ps"))
    t.overwrite(
        spark.createDataFrame([(1, "a", "p1")], "k int, v string, part string"),
        partition_by=["part"],
    )
    with pytest.raises(SchemaMismatchError, match="partition_by"):
        t.append(
            spark.createDataFrame([(2, "b", "p1")], "k int, v string, part string"),
            partition_by=["v"],
        )
    flat = LakeTable(spark, str(tmp_path / "ps2"))
    flat.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(SchemaMismatchError, match="partition_by"):
        flat.append(
            spark.createDataFrame([(2, "b")], "k int, v string"),
            partition_by=["v"],
        )
    # same scheme still appends fine
    t.append(spark.createDataFrame([(3, "c", "p2")], "k int, v string, part string"))
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_vacuum_dry_run(spark, tmp_path):
    """VACUUM DRY RUN (Delta parity): reports reclaimable dirs, deletes
    nothing; a subsequent real vacuum removes exactly that list."""
    import os

    t = LakeTable(spark, str(tmp_path / "dr"))
    t.overwrite(spark.createDataFrame([(1,)], "id int"))
    t.overwrite(spark.createDataFrame([(2,)], "id int"))
    t.overwrite(spark.createDataFrame([(3,)], "id int"))
    would = t.vacuum(keep_last=1, dry_run=True)
    assert len(would) == 2
    assert all(os.path.isdir(d) for d in would)  # nothing deleted
    assert [r.id for r in t.read(version=1).collect()] == [1]  # still readable
    assert t.vacuum(keep_last=1) == would
    assert not any(os.path.isdir(d) for d in would)


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: live-visibility file counts (masked partitions
    excluded), properties/constraints surfaced, zero Spark jobs (pure
    manifest + filesystem)."""
    t = LakeTable(spark, str(tmp_path / "dd"))
    t.overwrite(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    t.set_properties({"auto_compact": True})
    t.delete("part = 'x'")  # mask-only: x's file no longer live
    d = t.describe_detail()
    assert d["partition_columns"] == ["part"]
    assert d["num_files"] == 1  # only part=y remains visible
    assert d["size_in_bytes"] > 0
    assert d["properties"] == {"auto_compact": True}
    assert d["version"] == t.current_version()
    assert d["num_versions"] == 3
    assert d["created_at"] <= d["last_modified"]


def test_apply_changes_scd2_history(spark, tmp_path):
    """SCD TYPE 2 apply: every change opens a history row and closes its
    predecessor; deletes close without opening; a later batch closes the
    open row in place and a post-delete re-insert starts a fresh one."""
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ).coalesce(1)
    )  # v1: inserts
    src.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), keys=["k"]
    )  # v2: update k=2, insert k=4
    src.delete("k = 1")  # v3
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.apply_changes_scd2(
        src.changes(1, keys=["k"]), keys=["k"], sequence_col="_commit_version"
    )
    hist = {
        (r.k, r["__start_at"]): (r.v, r["__end_at"])
        for r in dim.read().collect()
    }
    assert hist == {
        (1, 1): ("a", 3),  # closed by the delete, no successor
        (2, 1): ("b", 2),
        (2, 2): ("B", None),
        (3, 1): ("c", None),
        (4, 2): ("d", None),
    }

    # incremental batch: update closes k=3's open row, re-insert revives k=1
    v = src.current_version()
    src.merge(
        spark.createDataFrame([(3, "C3"), (1, "a2")], "k int, v string"),
        keys=["k"],
    )  # v4
    dim.apply_changes_scd2(
        src.changes(v + 1, keys=["k"]), keys=["k"], sequence_col="_commit_version"
    )
    hist2 = {
        (r.k, r["__start_at"]): (r.v, r["__end_at"])
        for r in dim.read().collect()
    }
    assert hist2[(3, 1)] == ("c", 4) and hist2[(3, 4)] == ("C3", None)
    assert hist2[(1, 4)] == ("a2", None) and hist2[(1, 1)] == ("a", 3)
    # closed history rows from the first apply are untouched
    assert hist2[(2, 1)] == ("b", 2) and hist2[(2, 2)] == ("B", None)
    assert dim.history()[-1]["operation"] == "apply_changes_scd2"

    # current view = source snapshot
    cur = {(r.k, r.v) for r in dim.read().filter("__end_at IS NULL").collect()}
    assert cur == {(r.k, r.v) for r in src.read().collect()}


def test_apply_changes_scd2_late_change_raises(spark, tmp_path):
    """A change older than a key's recorded history raises instead of
    silently corrupting intervals (no delete tombstones = no repair),
    while replaying the exact feed that built the table is idempotent."""
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))  # v1
    src.merge(spark.createDataFrame([(1, "A")], "k int, v string"), keys=["k"])
    dim = LakeTable(spark, str(tmp_path / "dim"))
    feed = src.changes(1, keys=["k"])
    dim.apply_changes_scd2(feed, keys=["k"], sequence_col="_commit_version")
    before = {
        (r.k, r["__start_at"], r.v, r["__end_at"]) for r in dim.read().collect()
    }
    # replay: the re-delivered change matches the open row -> no-op result
    dim.apply_changes_scd2(
        src.changes(2, keys=["k"]), keys=["k"], sequence_col="_commit_version"
    )
    assert {
        (r.k, r["__start_at"], r.v, r["__end_at"]) for r in dim.read().collect()
    } == before

    late = spark.createDataFrame(
        [(1, "old", "update_postimage", 1)],
        "k int, v string, _change_type string, _commit_version int",
    )
    with pytest.raises(ValueError, match="older than recorded history"):
        dim.apply_changes_scd2(late, keys=["k"], sequence_col="_commit_version")


def test_convert_from_parquet_zero_copy(spark, tmp_path):
    """CONVERT TO DELTA: an existing parquet dir becomes a LakeTable
    in place — no data copied, stats collected, DML and time travel
    work on top, and files dropped in after the convert are invisible."""
    import glob as _glob

    src = str(tmp_path / "plain")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).coalesce(1).write.parquet(src)
    before = set(_glob.glob(src + "/**/*.parquet", recursive=True))

    t = LakeTable.convert_from_parquet(spark, src)
    assert t.current_version() == 1
    assert t.history()[-1]["operation"] == "convert"
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "b"), (3, "c")}
    # zero-copy: exactly the original files, nothing written but manifest
    assert set(_glob.glob(src + "/**/*.parquet", recursive=True)) == before
    # footer stats landed -> skipping works immediately
    assert t.read_skipping({"k": (10, 20)}).count() == 0

    # a file dropped in after the convert is NOT part of the table
    spark.createDataFrame([(9, "z")], "k int, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert t.read().count() == 3

    # DML on top: merge updates/inserts, old snapshot still serves
    t.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), keys=["k"]
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d")
    }
    assert t.read(version=1).count() == 3
    assert t.vacuum(dry_run=True) == []  # original dir never swept


def test_convert_from_parquet_partitioned(spark, tmp_path):
    """Partitioned convert: the declared layout is validated against the
    actual hive paths, partition columns come back on read, and a merge
    afterwards is partition-pruned as usual."""
    src = str(tmp_path / "phive")
    spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p2")], "k int, v string, part string"
    ).write.partitionBy("part").parquet(src)

    with pytest.raises(ValueError, match="hive layout"):
        LakeTable.convert_from_parquet(spark, src)  # layout not declared
    with pytest.raises(ValueError, match="hive layout"):
        LakeTable.convert_from_parquet(spark, src, partition_by=["wrong"])

    t = LakeTable.convert_from_parquet(spark, src, partition_by=["part"])
    assert {(r.k, r.v, r.part) for r in t.read().collect()} == {
        (1, "x", "p1"), (2, "y", "p2")
    }
    t.merge(
        spark.createDataFrame([(1, "X", "p1")], "k int, v string, part string"),
        keys=["k"],
    )
    assert {(r.k, r.v, r.part) for r in t.read().collect()} == {
        (1, "X", "p1"), (2, "y", "p2")
    }

    with pytest.raises(ValueError, match="already a LakeTable"):
        LakeTable.convert_from_parquet(spark, src, partition_by=["part"])
    with pytest.raises(ValueError, match="no parquet files"):
        LakeTable.convert_from_parquet(spark, str(tmp_path / "empty"))


def test_rename_column_metadata_only(spark, tmp_path):
    """Column mapping: rename without rewriting a byte — old files serve
    the new name, writes after the rename mix in cleanly, time travel
    shows the old name, chains resolve, and the feed uses current names."""
    import glob as _glob

    root = str(tmp_path / "cm")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, amt double"))
    files_before = sorted(_glob.glob(root + "/data/**/*.parquet", recursive=True))
    v_data = t.current_version()

    t.rename_column("amt", "revenue")
    assert t.history()[-1]["operation"] == "rename-column"
    # zero rewrite, logical schema served from old bytes
    assert sorted(_glob.glob(root + "/data/**/*.parquet", recursive=True)) == files_before
    assert {(r.k, r.revenue) for r in t.read().collect()} == {(1, 10.0), (2, 20.0)}
    # time travel BEFORE the rename keeps the old name
    assert "amt" in t.read(version=v_data).columns

    # post-rename write uses the new name; merge spans both vintages
    t.merge(
        spark.createDataFrame([(2, 25.0), (3, 30.0)], "k int, revenue double"),
        keys=["k"],
    )
    assert {(r.k, r.revenue) for r in t.read().collect()} == {
        (1, 10.0), (2, 25.0), (3, 30.0)
    }
    # chain: revenue -> rev2 resolves through both aliases
    t.rename_column("revenue", "rev2")
    assert {(r.k, r.rev2) for r in t.read().collect()} == {
        (1, 10.0), (2, 25.0), (3, 30.0)
    }
    # the change feed serves CURRENT logical names for old slices
    feed = t.changes(1, keys=["k"])
    assert "rev2" in feed.columns and "amt" not in feed.columns

    with pytest.raises(ValueError, match="already in use"):
        t.rename_column("k", "rev2")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("ghost", "g2")


def test_rename_partition_column_refused(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "cmp"))
    t.overwrite(
        spark.createDataFrame([(1, "p1")], "k int, part string"),
        partition_by=["part"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        t.rename_column("part", "region")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("part")


def test_drop_column_dead_name(spark, tmp_path):
    """DROP COLUMN hides the name everywhere — including data written
    later under the recycled name (name-mapped tables can't tell the
    vintages apart, so dead-forever is enforced)."""
    t = LakeTable(spark, str(tmp_path / "cmd"))
    t.overwrite(
        spark.createDataFrame([(1, 10.0, "x")], "k int, amt double, note string")
    )
    t.drop_column("note")
    assert t.read().columns == ["k", "amt"]
    # recycled name in a later append stays hidden
    t.append(
        spark.createDataFrame([(2, 20.0, "y")], "k int, amt double, note string")
    )
    assert sorted(t.read().columns) == ["amt", "k"]
    assert t.read().count() == 2
    # a rename CANNOT take a dead name
    with pytest.raises(ValueError, match="already in use"):
        t.rename_column("amt", "note")


def test_stream_source_refuses_column_mapped_table(spark, tmp_path):
    from ecommerce_lakehouse_spark.lake.stream_source import register_lake_source

    register_lake_source(spark)
    root = str(tmp_path / "cms")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 10.0)], "k int, amt double"))
    t.rename_column("amt", "revenue")
    t.append(spark.createDataFrame([(2, 20.0)], "k int, revenue double"))
    q = (
        spark.readStream.format("laketable")
        .option("path", root)
        .option("startingVersion", "earliest")
        .load()
        .writeStream.format("memory")
        .queryName("cms_out")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="column mapping"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream did not fail")


def test_dml_on_renamed_key_column(spark, tmp_path):
    """MERGE keyed on a RENAMED column and DELETE filtering it: the
    touched-file discovery scans physical files under the logical
    schema, and footer stats recorded under the old name cannot
    mis-prune (missing logical stats keep the file a candidate)."""
    t = LakeTable(spark, str(tmp_path / "cmk"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "old_id int, v string"
        ).coalesce(1)
    )
    t.rename_column("old_id", "id")
    t.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "id int, v string"),
        keys=["id"],
    )
    assert {(r.id, r.v) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d")
    }
    t.delete("id = 1")
    assert {(r.id, r.v) for r in t.read().collect()} == {
        (2, "B"), (3, "c"), (4, "d")
    }


def test_cow_delete_on_renamed_column_unpartitioned(spark, tmp_path):
    """A copy-on-write DELETE on an unpartitioned table rewrites the
    touched files through the same scan reads use: the condition names
    the logical column, and the kept rows are served (and rewritten)
    under it, not under the physical name the files store."""
    t = LakeTable(spark, str(tmp_path / "rd"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, amt double"
        ).coalesce(1)
    )
    t.rename_column("amt", "revenue")
    t.delete("revenue > 15")
    got = t.read()
    assert got.columns == ["k", "revenue"]
    assert sorted((r.k, r.revenue) for r in got.collect()) == [(1, 10.0)]


def test_recorded_schema_widens_numeric_types_only(spark, tmp_path):
    """A write under a wider numeric type widens the recorded schema, and
    older files scan up to it; any other type change is refused at the
    write instead of failing every later read."""
    from ecommerce_lakehouse_spark.lake.table import SchemaMismatchError

    t = LakeTable(spark, str(tmp_path / "wt"))
    t.overwrite(spark.createDataFrame([(1, 1)], "k int, n int"))
    t.append(spark.createDataFrame([(2, 2**40)], "k int, n long"))
    got = t.read()
    assert dict(got.dtypes)["n"] == "bigint"
    assert sorted(r.n for r in got.collect()) == [1, 2**40]
    with pytest.raises(SchemaMismatchError, match="changes type"):
        t.append(spark.createDataFrame([(3, "x")], "k int, n string"))
    assert t.current_version() == 2


def test_reads_of_one_version_self_join(spark, tmp_path):
    """Each read() is a fresh DataFrame: two reads of one version on one
    handle join on a Column condition like two reads on two handles,
    instead of sharing attribute ids (an ambiguous self-join)."""
    root = str(tmp_path / "sj")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k int, amt double"))
    a, b = t.read(), t.read()
    assert a.join(b, a["amt"] < b["amt"]).count() == 3
    fresh = LakeTable(spark, root).read()
    assert a.join(fresh, a["amt"] < fresh["amt"]).count() == 3


def test_read_skipping_on_renamed_column(spark, tmp_path):
    """read_skipping with bounds on a renamed column: old-name footer
    stats cannot prove disjointness for the logical name (file kept),
    and the row filter applies on the logical schema — exact results."""
    t = LakeTable(spark, str(tmp_path / "cms2"))
    t.overwrite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k int, old_amt double"
        ).repartition(4)
    )
    t.rename_column("old_amt", "amt")
    got = {r.k for r in t.read_skipping({"amt": (10.0, 12.0)}).collect()}
    assert got == {10, 11, 12}


def test_last_txn_constant_time_map(spark, tmp_path):
    """last_txn reads ONE manifest (the accumulated SetTransaction map),
    never the log: the map carries forward across unrelated commits,
    keeps per-app maxima, and a manifest without the map is refused."""
    t = LakeTable(spark, str(tmp_path / "tx"))
    t.overwrite(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        txn={"app_id": "loader", "version": 3},
    )
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))  # no txn
    t.merge(
        spark.createDataFrame([(3, "c")], "k int, v string"),
        keys=["k"],
        txn={"app_id": "stream", "version": 7},
    )
    assert t.last_txn("loader") == 3  # carried across txn-less commits
    assert t.last_txn("stream") == 7
    assert t.last_txn("ghost") is None
    m = t._manifest(t.current_version())
    assert m["txns"] == {"loader": 3, "stream": 7}

    # an older replayed version never lowers the recorded maximum
    t.append(
        spark.createDataFrame([(4, "d")], "k int, v string"),
        txn={"app_id": "stream", "version": 5},
    )
    assert t.last_txn("stream") == 7

    # pre-map manifests (simulated by stripping the key): refused by name
    import json as _json

    p = t._manifest_dir + f"/v{t.current_version():08d}.json"
    m = _json.load(open(p))
    del m["txns"]
    _json.dump(m, open(p, "w"))
    with pytest.raises(ValueError, match="records no txns"):
        t.last_txn("loader")


def test_compact_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE: only matching partitions are rewritten —
    untouched partitions' files stay byte-identical behind the mask,
    data unchanged, and CDF/streams see a physical-only commit."""
    import glob as _glob
    import hashlib

    def _hashes(pat):
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(_glob.glob(pat))
        }

    root = str(tmp_path / "ow")
    t = LakeTable(spark, root)
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}", "p1" if i % 2 else "p2") for i in range(20)],
            "k int, v string, part string",
        ).repartition(6),
        partition_by=["part"],
    )
    before = {(r.k, r.v, r.part) for r in t.read().collect()}
    p2_before = _hashes(root + "/data/*/part=p2/*.parquet")
    n_p1_files = len(_hashes(root + "/data/*/part=p1/*.parquet"))
    assert n_p1_files > 1

    t.compact(target_partitions=1, where="part = 'p1'")
    assert t.history()[-1]["operation"] == "compact"
    assert {(r.k, r.v, r.part) for r in t.read().collect()} == before
    assert _hashes(root + "/data/*/part=p2/*.parquet") == p2_before
    # the feed sees nothing (physical-only op)
    assert t.changes(t.current_version(), keys=["k"]).count() == 0
    # no-match predicate: no-op, no commit
    v = t.current_version()
    assert t.compact(where="part = 'zzz'") == v

    unp = LakeTable(spark, str(tmp_path / "unp"))
    unp.overwrite(spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="partitioned table"):
        unp.compact(where="k = 1")


def test_deep_clone_self_contained(spark, tmp_path):
    """DEEP CLONE materializes the snapshot (DVs applied, metadata +
    column mapping carried) and survives source vacuum; a shallow clone
    of a renamed table serves the LOGICAL schema."""
    src = LakeTable(spark, str(tmp_path / "src"))
    src.overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, old_amt double"
        ).coalesce(1)
    )
    src.rename_column("old_amt", "amt")
    src.delete("k = 2", mode="merge-on-read")  # leaves a deletion vector
    before = {(r.k, r.amt) for r in src.read().collect()}
    assert before == {(1, 10.0), (3, 30.0)}

    # shallow clone of a column-mapped table serves logical names
    sh = src.clone_to(str(tmp_path / "shallow"))
    assert {(r.k, r.amt) for r in sh.read().collect()} == before

    deep = src.clone_to(str(tmp_path / "deep"), deep=True)
    assert deep.history()[-1]["operation"] == "clone-deep"
    assert {(r.k, r.amt) for r in deep.read().collect()} == before
    assert deep._manifest(deep.current_version())["deletion_vectors"] == []
    # the dead old name stays reserved in the deep clone
    with pytest.raises(ValueError, match="already in use"):
        deep.rename_column("amt", "old_amt")

    # nuke the source entirely: the deep clone still reads, files are its own
    import shutil

    shutil.rmtree(str(tmp_path / "src"))
    assert {(r.k, r.amt) for r in deep.read().collect()} == before


def test_identity_column_allocation(spark, tmp_path):
    """GENERATED BY DEFAULT AS IDENTITY: appends fill missing/NULL ids
    uniquely above the watermark (gaps allowed, Delta semantics),
    explicit values pass through, MERGE keeps matched rows' ids and
    allocates only for true inserts, and the watermark only climbs."""
    t = LakeTable(spark, str(tmp_path / "idt"))
    t.overwrite(spark.createDataFrame([("a",), ("b",)], "v string"))
    t.set_identity("id", start=100)
    assert t.history()[-1]["operation"] == "set-identity"

    t.append(spark.createDataFrame([("c",), ("d",)], "v string"))
    rows = {r.v: r.id for r in t.read().collect()}
    assert rows["a"] is None and rows["b"] is None  # pre-identity rows
    assert rows["c"] != rows["d"] and min(rows["c"], rows["d"]) >= 100
    hwm1 = t.properties()["identity"]["high_watermark"]
    assert hwm1 > max(rows["c"], rows["d"])

    # second append: ids strictly above everything allocated before
    t.append(spark.createDataFrame([("e",)], "v string"))
    rows = {r.v: r.id for r in t.read().collect()}
    assert rows["e"] >= hwm1
    assert len({rows["c"], rows["d"], rows["e"]}) == 3

    # explicit id passes through (BY DEFAULT, not ALWAYS)
    t.append(spark.createDataFrame([(7, "x")], "id long, v string"))
    rows = {r.v: r.id for r in t.read().collect()}
    assert rows["x"] == 7

    # MERGE: matched key keeps its id, insert allocates
    t2 = LakeTable(spark, str(tmp_path / "idm"))
    t2.overwrite(spark.createDataFrame([("k1", "old")], "k string, v string"))
    t2.set_identity("id", start=1)
    t2.append(spark.createDataFrame([("k2", "two")], "k string, v string"))
    id_k2 = {r.k: r.id for r in t2.read().collect()}["k2"]
    t2.merge(
        spark.createDataFrame([("k2", "TWO"), ("k3", "three")], "k string, v string"),
        keys=["k"],
    )
    rows = {r.k: (r.v, r.id) for r in t2.read().collect()}
    assert rows["k2"] == ("TWO", id_k2)  # kept
    assert rows["k3"][1] is not None and rows["k3"][1] != id_k2  # allocated
    assert t2.properties()["identity"]["high_watermark"] > rows["k3"][1]

    # a second identity declaration is refused
    with pytest.raises(ValueError, match="already configured"):
        t2.set_identity("id2")


def test_bloom_index_file_skipping(spark, tmp_path):
    """CREATE BLOOMFILTER INDEX: equality reads skip files the bitmap
    proves absent, even when every file's min/max spans the probe (the
    exact case footer stats can't prune); pre-index files are never
    pruned; results always equal the plain filtered read (no false
    negatives); compaction rewrites carry blooms (backfill path)."""
    t = LakeTable(spark, str(tmp_path / "bl"))

    def batch(keys, tag):
        # sentinels 0 and 10^6 give every file the same [min,max] span
        rows = [(k, f"{tag}{k}") for k in [0, 1_000_000, *keys]]
        return spark.createDataFrame(rows, "k long, s string").coalesce(1)

    t.overwrite(batch([11, 12], "pre"))  # v1: written BEFORE the index
    t.create_bloom_index("k", fpp=0.001, max_keys_per_file=1000)
    t.create_bloom_index("s", fpp=0.001, max_keys_per_file=1000)
    with pytest.raises(ValueError, match="already indexed"):
        t.create_bloom_index("k")
    t.append(batch([501, 502], "a"))
    t.append(batch([901, 902], "b"))

    import os as _os

    dirs = [e["path"] if isinstance(e, dict) else e
            for e in t._manifest(t.current_version())["data_dirs"]]
    with_sidecar = [d for d in dirs
                    if _os.path.exists(_os.path.join(d, "_bloom.json"))]
    assert len(dirs) == 3 and len(with_sidecar) == 2  # pre-index dir bare

    # probe a key only in batch "a": batch "b"'s file is bloom-pruned,
    # the pre-index file survives (no bloom -> cannot prune)
    got = t.read_skipping({"k": (501, 501)})
    assert [(r.k, r.s) for r in got.collect()] == [(501, "a501")]
    assert len(got.inputFiles()) == 2  # pre-index file + batch-a file

    # string-column probe: min/max prunes the pre-index file (its tag
    # prefix sorts after "b..."), the bloom prunes batch "a" — only the
    # one true file opens
    got_s = t.read_skipping({"s": ("b902", "b902")})
    assert [(r.k, r.s) for r in got_s.collect()] == [(902, "b902")]
    assert len(got_s.inputFiles()) == 1

    # no false negatives: every present key returns exactly its row
    for key, tag in [(11, "pre"), (502, "a"), (901, "b")]:
        rows = t.read_skipping({"k": (key, key)}).collect()
        assert [(r.k, r.s) for r in rows] == [(key, f"{tag}{key}")]

    # absent key: zero rows whether or not every file was pruned
    assert t.read_skipping({"k": (777, 777)}).count() == 0

    # range (non-equality) bounds ignore blooms but stay exact
    assert t.read_skipping({"k": (500, 903)}).count() == 4

    # compaction is the backfill path: the single rewritten dir carries
    # a sidecar and probes keep working
    t.compact(target_partitions=1)
    d = [e["path"] if isinstance(e, dict) else e
         for e in t._manifest(t.current_version())["data_dirs"]]
    assert len(d) == 1 and _os.path.exists(_os.path.join(d[0], "_bloom.json"))
    rows = t.read_skipping({"k": (12, 12)}).collect()
    assert [(r.k, r.s) for r in rows] == [(12, "pre12")]


def test_fsck_repairs_missing_live_files(spark, tmp_path):
    """A live_files entry naming a vanished file breaks reads; fsck
    dry-run reports it, repair drops it, remaining rows survive, and a
    clean table fscks as a no-op."""
    import os as _os

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(60)], "k int, s string"
        ).repartition(3)
    )
    # file-pruned DML leaves live_files entries naming files
    t.delete("k = 0")
    m = t._manifest(t.current_version())
    entry = next(
        e for e in m["data_dirs"]
        if isinstance(e, dict) and e.get("live_files")
    )
    assert t.fsck() == {
        "missing_files": [],
        "missing_dirs": [],
        "missing_dvs": [],
        "repaired_version": None,
    }

    victim = entry["live_files"][0]
    vpath = _os.path.join(entry["path"], victim)
    surviving = {
        r.k for r in spark.read.parquet(*[
            _os.path.join(entry["path"], rel)
            for rel in entry["live_files"][1:]
        ]).collect()
    } if len(entry["live_files"]) > 1 else set()
    _os.remove(vpath)

    report = t.fsck()  # dry run: reported, nothing committed
    assert (entry["path"], victim) in report["missing_files"]
    assert report["repaired_version"] is None

    v_before = t.current_version()
    report = t.fsck(dry_run=False)
    assert report["repaired_version"] == v_before + 1
    got = {r.k for r in t.read().collect()}
    assert surviving <= got and 0 not in got  # delete still applied
    # repaired manifest no longer names the victim anywhere
    m2 = t._manifest(t.current_version())
    for e in m2["data_dirs"]:
        if isinstance(e, dict) and e.get("live_files"):
            assert victim not in e["live_files"] or e["path"] != entry["path"]
    # idempotent: nothing further to repair
    assert t.fsck(dry_run=False)["repaired_version"] is None


def test_fsck_refuses_missing_deletion_vector(spark, tmp_path):
    """A vanished DV parquet must refuse repair (dropping it would
    resurrect deleted rows) while the dry run still reports it."""
    import os as _os

    import pytest as _pytest

    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(i, i % 5) for i in range(50)], "k int, g int")
    )
    t.delete("g = 2", mode="merge-on-read")
    dvs = t._manifest(t.current_version()).get("deletion_vectors", [])
    assert dvs, "merge-on-read delete must record a deletion vector"
    # DV paths are dirs or files; remove whichever exists
    target = dvs[0]
    if _os.path.isdir(target):
        import shutil as _shutil

        _shutil.rmtree(target)
    else:
        _os.remove(target)
    report = t.fsck()
    assert report["missing_dvs"] == [target]
    with _pytest.raises(ValueError, match="resurrect"):
        t.fsck(dry_run=False)


def test_protocol_features_recorded_and_monotone(spark, tmp_path):
    """Commits record the features they exercise; the sets only grow
    (Delta table-features monotonicity), and ordinary tables carry none."""
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "feat"))
    t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "x")]))
    m = t._manifest(t.current_version())
    assert m["features"] == {"reader": [], "writer": []}

    t.add_constraint("k_pos", "k > 0")
    assert t._manifest(t.current_version())["features"]["writer"] == [
        "check-constraints"
    ]

    t.delete(F.col("k") == 1, mode="merge-on-read")
    m = t._manifest(t.current_version())
    assert m["features"]["reader"] == ["deletion-vectors"]
    assert m["features"]["writer"] == ["check-constraints"]

    # a later plain append must carry both forward even though it
    # exercises neither
    t.append(_df(spark, [(3, "c", "y")]))
    m = t._manifest(t.current_version())
    assert m["features"]["reader"] == ["deletion-vectors"]
    assert m["features"]["writer"] == ["check-constraints"]
    assert {r.k for r in t.read().collect()} == {2, 3}


def test_unknown_reader_feature_blocks_reads_and_writes(spark, tmp_path):
    """A manifest demanding a reader feature this build lacks must refuse
    reads (snapshot, skipping, CDF, stream schema) AND writes, loudly and
    by name — never silently mis-decode."""
    import json
    import os

    import pytest as _pytest

    from ecommerce_lakehouse_spark.lake.cdf import table_changes
    from ecommerce_lakehouse_spark.lake.stream_source import (
        _snapshot_arrow_schema,
    )
    from ecommerce_lakehouse_spark.lake.table import (
        LakeTable,
        UnsupportedTableFeatureError,
    )

    t = LakeTable(spark, str(tmp_path / "future"))
    t.overwrite(_df(spark, [(1, "a", "x")]))
    t.append(_df(spark, [(2, "b", "y")]))
    v = t.current_version()
    mpath = os.path.join(t._manifest_dir, f"v{v:08d}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["features"]["reader"] = ["row-encryption-v9"]
    with open(mpath, "w") as f:
        json.dump(m, f)

    with _pytest.raises(UnsupportedTableFeatureError, match="row-encryption-v9"):
        t.read()
    with _pytest.raises(UnsupportedTableFeatureError, match="row-encryption-v9"):
        t.read_skipping({"k": (0, 10)})
    with _pytest.raises(UnsupportedTableFeatureError, match="row-encryption-v9"):
        table_changes(t, 1)
    with _pytest.raises(UnsupportedTableFeatureError, match="row-encryption-v9"):
        _snapshot_arrow_schema(t.root)
    with _pytest.raises(UnsupportedTableFeatureError, match="row-encryption-v9"):
        t.append(_df(spark, [(3, "c", "z")]))
    # time travel to a version BEFORE the feature appeared still works
    assert {r.k for r in t.read(version=1).collect()} == {1}


def test_unknown_writer_feature_blocks_writes_only(spark, tmp_path):
    """Writer features constrain commit production, not byte decoding:
    reads keep working, writes refuse (Delta's reader/writer split)."""
    import json
    import os

    import pytest as _pytest

    from ecommerce_lakehouse_spark.lake.table import (
        LakeTable,
        UnsupportedTableFeatureError,
    )

    t = LakeTable(spark, str(tmp_path / "wfeat"))
    t.overwrite(_df(spark, [(1, "a", "x")]))
    v = t.current_version()
    mpath = os.path.join(t._manifest_dir, f"v{v:08d}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["features"]["writer"] = ["row-tracking-v9"]
    with open(mpath, "w") as f:
        json.dump(m, f)

    assert {r.k for r in t.read().collect()} == {1}
    with _pytest.raises(UnsupportedTableFeatureError, match="row-tracking-v9"):
        t.append(_df(spark, [(2, "b", "y")]))


def test_drop_feature_lifecycle(spark, tmp_path):
    """DROP FEATURE is refused while the snapshot still exercises the
    capability, succeeds once it doesn't, and later commits stay clean."""
    from ecommerce_lakehouse_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "dropf"))
    t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]))
    t.delete(F.col("k") == 1, mode="merge-on-read")
    assert t._manifest(t.current_version())["features"]["reader"] == [
        "deletion-vectors"
    ]
    with pytest.raises(ValueError, match="still exercises"):
        t.drop_feature("deletion-vectors")

    t.compact()  # PURGE: materializes the DV, clears the sidecar list
    v_drop = t.drop_feature("deletion-vectors")
    m = t._manifest(v_drop)
    assert m["operation"] == "drop_feature"
    assert m["features"] == {"reader": [], "writer": []}
    assert {r.k for r in t.read().collect()} == {2, 3}

    # a later plain append must NOT resurrect the dropped feature
    t.append(_df(spark, [(4, "d", "z")]))
    assert t._manifest(t.current_version())["features"]["reader"] == []

    # unknown / absent features are refused by name
    with pytest.raises(ValueError, match="does not carry"):
        t.drop_feature("deletion-vectors")

    # writer-feature lifecycle: constraints on -> refused; off -> drops
    t.add_constraint("k_pos", "k > 0")
    with pytest.raises(ValueError, match="still exercises"):
        t.drop_feature("check-constraints")
    t.drop_constraint("k_pos")
    t.drop_feature("check-constraints")
    assert t._manifest(t.current_version())["features"]["writer"] == []


# ---------------------------------------------------------------------------
# RESTORE TO VERSION
# ---------------------------------------------------------------------------


def test_restore_round_trip_and_history(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]))       # v1
    tbl.delete("k = 1")                                             # v2
    tbl.merge(_df(spark, [(3, "c", "y")]), keys=["k"])              # v3
    v = tbl.restore(1)                                              # v4
    assert v == tbl.current_version()
    got = {(r.k, r.v) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "b")}
    # history preserved: intermediate versions still time-travel
    assert {(r.k, r.v) for r in tbl.read(version=2).collect()} == {(2, "b")}
    assert tbl._manifest(v)["operation"] == "restore"
    # undo the undo: restore forward to v3's state
    tbl.restore(3)
    assert {(r.k, r.v) for r in tbl.read().collect()} == {(2, "b"), (3, "c")}
    # restored table is live for DML
    tbl.append(_df(spark, [(4, "d", "x")]))
    assert tbl.read().count() == 3


def test_restore_refuses_vacuumed_target(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]))                      # v1
    tbl.overwrite(_df(spark, [(2, "b", "x")]))                      # v2
    tbl.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuum"):
        tbl.restore(1)
    # current state untouched by the refused restore
    assert {(r.k,) for r in tbl.read().select("k").collect()} == {(2,)}


def test_restore_out_of_range(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]))
    with pytest.raises(ValueError, match="out of range"):
        tbl.restore(5)
    with pytest.raises(ValueError, match="out of range"):
        tbl.restore(0)


def test_restore_carries_target_metadata(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]))                      # v1
    tbl.add_constraint("k_pos", "k > 0")                            # v2
    tbl.overwrite(_df(spark, [(2, "b", "x")]))                      # v3
    # restore to v1: the PRE-constraint state — constraints follow the
    # target manifest, exactly like Delta RESTORE rolling back metadata
    tbl.restore(1)
    assert tbl.constraints() == {}
    tbl.restore(3)
    assert tbl.constraints() == {"k_pos": "k > 0"}


def test_restore_change_feed_diff(spark, tbl):
    from ecommerce_lakehouse_spark.lake.cdf import table_changes

    tbl.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "x")]))       # v1
    tbl.delete("k = 1")                                             # v2
    v = tbl.restore(1)                                              # v3
    cdf = table_changes(tbl, starting_version=v)
    rows = {(r.k, r._change_type) for r in cdf.collect()}
    # the rolled-back delete surfaces as a re-insert
    assert rows == {(1, "insert")}


# ---------------------------------------------------------------------------
# Partition evolution across versions (Iceberg-parity behavior)
# ---------------------------------------------------------------------------


def test_partition_evolution_across_versions(spark, tbl):
    """Overwrite may change the partition scheme (partition evolution);
    each version's manifest pins its own scheme, so time travel serves
    old vintages under the old layout while appends are validated
    against the CURRENT scheme only."""
    tbl.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"])
    tbl.append(_df(spark, [(3, "c", "x")]))                          # v2, part-scheme
    tbl.overwrite(_df(spark, [(4, "d", "z")]), partition_by=["v"])   # v3, v-scheme
    assert tbl._manifest(1)["partition_by"] == ["part"]
    assert tbl._manifest(3)["partition_by"] == ["v"]
    assert {r.k for r in tbl.read().collect()} == {4}
    assert {r.k for r in tbl.read(version=2).collect()} == {1, 2, 3}
    # appends now validate against the NEW scheme; reads of old versions
    # still reconstruct the old hive layout
    tbl.append(_df(spark, [(5, "d", "w")]))
    assert {r.k for r in tbl.read().collect()} == {4, 5}


def test_restore_rolls_back_partition_scheme(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a", "x")]), partition_by=["part"])  # v1
    tbl.overwrite(_df(spark, [(2, "b", "y")]), partition_by=["v"])     # v2
    v = tbl.restore(1)                                                 # v3
    assert tbl._manifest(v)["partition_by"] == ["part"]
    assert {(r.k, r.part) for r in tbl.read().collect()} == {(1, "x")}
    # post-restore append validates against the restored scheme
    tbl.append(_df(spark, [(6, "e", "x")]))
    assert tbl.read().count() == 2
