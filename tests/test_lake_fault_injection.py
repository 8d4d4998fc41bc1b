"""Crash-point injection for the LakeTable commit protocol (VERDICT r08
#6): abort a commit at each named internal step of the
data-files-written → manifest-linked → head-pointer-moved sequence and
assert the atomicity contract — the table reads back EITHER exactly the
pre-commit snapshot (crash before the manifest link, the commit point)
OR exactly the committed snapshot (crash after it), never partial
state; the next writer proceeds normally (a crashed writer can never
wedge the table); and orphan data dirs are vacuumable.

The seam is ``lake.log._crash_hook`` — a no-op the production code
calls at each step; tests monkeypatch it to raise at one chosen point.
"""

import os

import pytest

import ecommerce_lakehouse_spark.lake.log as lake_log
from ecommerce_lakehouse_spark.lake import LakeTable

pytestmark = pytest.mark.slow


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture()
def tbl(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, part string")


def _snapshot(t):
    return {tuple(r) for r in t.read().select("k", "v", "part").collect()}


def _crash_at(monkeypatch, point, skip=0):
    """Raise at the ``skip``-th occurrence of ``point`` (multi-commit
    operations like restore hit each point once per commit)."""
    seen = {"n": 0}

    def hook(p):
        if p == point:
            if seen["n"] == skip:
                raise InjectedCrash(point)
            seen["n"] += 1

    monkeypatch.setattr(lake_log, "_crash_hook", hook)


def _release(monkeypatch):
    monkeypatch.setattr(lake_log, "_crash_hook", lambda p: None)


# every commit path: name -> (callable(t, spark), expected rows AFTER a
# completed run, given the two-version fixture below)
_BASE = [(1, "a", "x"), (2, "b", "x")]
_V2 = [(3, "c", "y")]


def _setup(spark, t):
    t.overwrite(_df(spark, _BASE), partition_by=["part"])
    t.append(_df(spark, _V2))
    return _snapshot(t)


OPS = {
    "overwrite": lambda t, spark: t.overwrite(
        _df(spark, [(9, "z", "w")]), partition_by=["part"]
    ),
    "append": lambda t, spark: t.append(_df(spark, [(9, "z", "w")])),
    "merge": lambda t, spark: t.merge(
        _df(spark, [(2, "B", "x"), (9, "z", "w")]), keys=["k"]
    ),
    "delete": lambda t, spark: t.delete("k = 1"),
    "update": lambda t, spark: t.update("k = 2", {"v": "'UPD'"}),
    "compact": lambda t, spark: t.compact(target_partitions=1),
    "restore": lambda t, spark: t.restore(1),
    "set_properties": lambda t, spark: t.set_properties(
        {"target_file_bytes": 1 << 20}
    ),
}

POINTS = ["commit_enter", "manifest_tmp_written", "manifest_linked"]


@pytest.mark.parametrize("op", sorted(OPS))
@pytest.mark.parametrize("point", POINTS)
def test_crash_point_atomicity(spark, tbl, monkeypatch, op, point):
    pre = _setup(spark, tbl)
    pre_version = tbl.current_version()

    _crash_at(monkeypatch, point)
    with pytest.raises(InjectedCrash):
        OPS[op](tbl, spark)
    _release(monkeypatch)

    if point == "manifest_linked":
        # commit point passed: the commit is durable and visible even
        # though _LATEST was never moved (roll-forward), and equals the
        # state a non-crashed run would have produced
        assert tbl.current_version() == pre_version + 1
        got = _snapshot(tbl)
        clean = LakeTable(spark, tbl.root + "_clean")
        _setup(spark, clean)
        OPS[op](clean, spark)
        assert got == _snapshot(clean)
    else:
        # before the commit point: exactly the pre-commit snapshot
        assert tbl.current_version() == pre_version
        assert _snapshot(tbl) == pre

    # the table is never wedged: a subsequent ordinary write succeeds
    tbl.append(_df(spark, [(100, "post", "p")]))
    assert (100, "post", "p") in _snapshot(tbl)


@pytest.mark.parametrize("point", POINTS)
def test_crash_on_first_ever_commit(spark, tbl, monkeypatch, point):
    """Crash while CREATING the table (no prior version to fall back
    to): before the link the table must still not-exist; after it, v1
    is durable despite the missing pointer."""
    _crash_at(monkeypatch, point)
    with pytest.raises(InjectedCrash):
        tbl.overwrite(_df(spark, _BASE), partition_by=["part"])
    _release(monkeypatch)

    if point == "manifest_linked":
        assert tbl.exists()
        assert tbl.current_version() == 1
        assert _snapshot(tbl) == set(_BASE)
    else:
        assert not tbl.exists()

    tbl.merge(_df(spark, [(5, "m", "x")]), keys=["k"])  # create-if-absent
    assert (5, "m", "x") in _snapshot(tbl)


def test_orphan_data_dirs_are_vacuumable(spark, tbl, monkeypatch):
    """A crash after data files are written but before any manifest
    references them leaves orphan dirs that vacuum reclaims."""
    _setup(spark, tbl)
    data_root = os.path.join(tbl.root, "data")
    before = set(os.listdir(data_root))

    _crash_at(monkeypatch, "commit_enter")
    with pytest.raises(InjectedCrash):
        tbl.append(_df(spark, [(9, "z", "w")]))
    _release(monkeypatch)

    orphans = set(os.listdir(data_root)) - before
    assert orphans, "append should have written data files pre-commit"
    pre = _snapshot(tbl)
    removed = tbl.vacuum(keep_last=len(tbl.history()))
    assert {os.path.basename(p) for p in removed} >= orphans
    assert _snapshot(tbl) == pre  # live snapshot untouched


def test_pointer_heals_after_torn_commit(spark, tbl, monkeypatch):
    """After a manifest_linked crash the _LATEST pointer lags; the first
    read heals it so subsequent reads are O(1) again."""
    _setup(spark, tbl)
    _crash_at(monkeypatch, "manifest_linked")
    with pytest.raises(InjectedCrash):
        tbl.append(_df(spark, [(9, "z", "w")]))
    _release(monkeypatch)

    with open(tbl._latest_path()) as f:
        assert int(f.read().strip()) == 2  # pointer still at pre-crash head
    head = tbl.current_version()  # rolls forward + heals
    assert head == 3
    with open(tbl._latest_path()) as f:
        assert int(f.read().strip()) == 3


def test_torn_commit_then_concurrent_writer_rebase(spark, tbl, monkeypatch):
    """A torn commit (manifest linked, pointer stale) is a COMPLETED
    commit to every other writer: a writer that read the table before
    the crash rebases over it exactly as over a live concurrent
    committer (disjoint partitions) or surfaces ConcurrentWriteError
    (overlapping) — never silent loss, never a wedge."""
    _setup(spark, tbl)

    # torn blind append into partition "w"
    _crash_at(monkeypatch, "manifest_linked")
    with pytest.raises(InjectedCrash):
        tbl.append(_df(spark, [(9, "z", "w")]))
    _release(monkeypatch)

    # a second writer (same path, fresh handle) appends disjoint data:
    # must land as v4 on top of the torn v3
    t2 = LakeTable(spark, tbl.root)
    t2.append(_df(spark, [(10, "q", "x")]))
    assert t2.current_version() == 4
    got = _snapshot(t2)
    assert (9, "z", "w") in got and (10, "q", "x") in got


def test_no_partial_manifest_ever_visible(spark, tbl, monkeypatch):
    """manifest_tmp_written crash: the version name is never claimed, no
    .json for the next version exists, and only .tmp litter remains
    (which history()/reads ignore)."""
    _setup(spark, tbl)
    _crash_at(monkeypatch, "manifest_tmp_written")
    with pytest.raises(InjectedCrash):
        tbl.delete("k = 1")
    _release(monkeypatch)

    names = os.listdir(tbl._manifest_dir)
    assert "v00000003.json" not in names
    assert [m["version"] for m in tbl.history()] == [1, 2]
    assert tbl.read().count() == 3
