"""REAL concurrent-writer races on one LakeTable: N threads commit
simultaneously against the same table with no coordination, exercising
the os.link version claim, ConcurrentWriteError, and the rebase retry
loop under genuine interleaving (the OCC unit tests simulate racers by
planting manifests at the fault-injection seam; this suite lets the
scheduler produce the interleavings).

Invariants asserted:
- every committed batch lands EXACTLY once (no loss, no duplication);
- the version chain is contiguous (one manifest per version, pointer
  healed to the head);
- a full-table op racing appends either wins cleanly or surfaces
  ConcurrentWriteError — never silently clobbers;
- a state fold whose read went stale surfaces ConcurrentWriteError, so
  retried folds count every batch exactly once.
"""

import sys
import threading
import time

import pandas as pd

import pytest

from ecommerce_lakehouse_spark.lake import ConcurrentWriteError, LakeTable

pytestmark = pytest.mark.slow

N_THREADS = 4
BATCHES_PER_THREAD = 3


@pytest.fixture()
def tbl(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, part string")


def test_concurrent_blind_appends_all_land(spark, tbl):
    tbl.overwrite(_df(spark, [(0, "seed", "x")]), partition_by=["part"])
    errors: list = []

    def writer(tid: int):
        for b in range(BATCHES_PER_THREAD):
            k = 1000 * tid + b
            # a real writer retries on surfaced conflicts; blind appends
            # auto-rebase internally, so retries here only cover the
            # exceeded-max-retries path under extreme interleaving
            for _ in range(10):
                try:
                    tbl.append(_df(spark, [(k, f"t{tid}b{b}", "x")]))
                    break
                except ConcurrentWriteError:
                    continue
            else:
                errors.append((tid, b, "exhausted retries"))

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(N_THREADS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    rows = {(r.k, r.v) for r in tbl.read().collect()}
    expected = {(0, "seed")} | {
        (1000 * t + b, f"t{t}b{b}")
        for t in range(N_THREADS)
        for b in range(BATCHES_PER_THREAD)
    }
    assert {(k, v) for k, v in rows} == expected
    # exactly one commit per landed batch: contiguous version chain
    versions = [m["version"] for m in tbl.history()]
    assert versions == list(range(1, 1 + 1 + N_THREADS * BATCHES_PER_THREAD))
    assert tbl.current_version() == versions[-1]


def test_concurrent_disjoint_partition_merges(spark, tbl):
    """Writers merging DISJOINT partitions rebase over each other (the
    Delta disjoint-partition auto-resolution); every partition's rows
    land exactly once."""
    parts = ["p0", "p1", "p2", "p3"]
    seed = [(i, "seed", p) for i, p in enumerate(parts)]
    tbl.overwrite(_df(spark, seed), partition_by=["part"])
    errors: list = []

    def writer(tid: int):
        p = parts[tid]
        for b in range(BATCHES_PER_THREAD):
            for _ in range(10):
                try:
                    tbl.merge(
                        _df(spark, [(100 * (tid + 1) + b, f"m{tid}b{b}", p)]),
                        keys=["k"],
                    )
                    break
                except ConcurrentWriteError:
                    continue
            else:
                errors.append((tid, b, "exhausted retries"))

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(len(parts))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    got = {(r.k, r.v, r.part) for r in tbl.read().collect()}
    expected = set(map(tuple, seed)) | {
        (100 * (t + 1) + b, f"m{t}b{b}", parts[t])
        for t in range(len(parts))
        for b in range(BATCHES_PER_THREAD)
    }
    assert got == expected


def test_concurrent_folds_lose_no_batch(spark, tbl):
    """Threads fold additive batches into ONE key of one table
    (``LakeTable.fold`` merged on the key, a txn app per thread): a fold
    whose read went stale raises and is retried, so the sum counts every
    batch exactly once — a replaced commit would drop a batch."""
    from ecommerce_lakehouse_spark.lake import merge_aggregate

    n_threads, n_batches = 3, 2
    errors: list = []

    def writer(tid: int):
        for b in range(n_batches):
            inc = spark.createDataFrame(
                pd.DataFrame({"g": ["g"], "n": [1], "s": [10 ** (tid * n_batches + b)]}),
                "g string, n long, s long",
            )

            def add(state):
                # a step takes a while, as Spark work in a step does, and
                # a different while per thread, so commits land between
                # another fold's read and its commit
                time.sleep(0.5 + tid)
                return inc if state is None else merge_aggregate(state, inc, ["g"], ["n", "s"])

            for _ in range(50):
                try:
                    tbl.fold(add, txn={"app_id": f"t{tid}", "version": b}, keys=["g"])
                    break
                except ConcurrentWriteError:
                    continue
            else:
                errors.append((tid, b, "exhausted retries"))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=900)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    total = sum(10**i for i in range(n_threads * n_batches))
    assert [(r.g, r.n, r.s) for r in tbl.read().collect()] == [("g", n_threads * n_batches, total)]


def test_overwrite_racing_appends_never_silently_clobbers(spark, tbl):
    """A full-table overwrite racing blind appends must either commit
    cleanly at the head it read or raise — and whichever happened, the
    final table must be consistent: if the overwrite won, exactly the
    appends that landed AFTER it (plus its own rows) are present."""
    tbl.overwrite(_df(spark, [(0, "seed", "x")]), partition_by=["part"])
    outcome: dict = {}

    def appender():
        for b in range(6):
            for _ in range(10):
                try:
                    tbl.append(_df(spark, [(100 + b, f"a{b}", "x")]))
                    break
                except ConcurrentWriteError:
                    continue

    def overwriter():
        try:
            outcome["version"] = tbl.overwrite(
                _df(spark, [(999, "OW", "x")]), partition_by=["part"]
            )
        except ConcurrentWriteError:
            outcome["raised"] = True

    ta = threading.Thread(target=appender)
    to = threading.Thread(target=overwriter)
    ta.start()
    to.start()
    ta.join()
    to.join()

    rows = {(r.k, r.v) for r in tbl.read().collect()}
    if "version" in outcome:
        ow_v = outcome["version"]
        # rows = overwrite payload + every append committed after it
        later_appends = {
            (r["k"], r["v"])
            for m in tbl.history()
            if m["version"] > ow_v and m["operation"] == "append"
            for r in tbl.read(version=m["version"])
            .exceptAll(tbl.read(version=m["version"] - 1))
            .collect()
        }
        assert rows == {(999, "OW")} | later_appends
    else:
        assert outcome.get("raised") is True
        assert (0, "seed") in rows  # appends-only history, seed intact
