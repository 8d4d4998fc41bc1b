"""Each LakeTable operation reads the table head once and commits against
it (Delta's per-operation snapshot): metadata DDL validates and commits
on one version, the stream source rolls forward over durable commits the
``_LATEST`` cache has not caught up with, and a warm handle's DML opens
exactly one manifest file per operation. A write whose ``txn`` that one
head already records is skipped, and so is the loser of a race between
two replays of one transaction. A state fold (``LakeTable.fold``) reads
and commits at one head too: a commit landing in between raises instead
of being replaced, and a replayed fold runs no step and no Spark job.
DML refuses a data dir the manifest names but storage lacks."""

import builtins
import json
import os
import re
import shutil
from decimal import Decimal

import pandas as pd
import pytest
from test_lake_layouts import _frame, _interleave

import ecommerce_lakehouse_spark.lake.log as lake_log
from ecommerce_lakehouse_spark.lake.stream_source import (
    LakeTableStreamReader,
    _snapshot_arrow_schema,
)
from ecommerce_lakehouse_spark.lake.mv import MaterializedAggregate
from ecommerce_lakehouse_spark.lake.table import ConcurrentWriteError, LakeTable
from ecommerce_lakehouse_spark.streaming.jobs import ROLLUP_TXN_APP, apply_rollup_batch


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, part string")


def test_add_constraint_validates_and_commits_on_one_version(spark, tmp_path):
    """A row violating the new constraint, appended by another writer
    right after add_constraint's validation scan, must fail the commit —
    never leave a constraint the table's rows break. drop_constraint
    likewise never loses a constraint added after it read the head."""
    root = str(tmp_path / "t")
    t = LakeTable(spark, root)
    other = LakeTable(spark, root)
    t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]))
    orig_read = t.read
    fired = []

    def read_then_race(*args, **kwargs):
        df = orig_read(*args, **kwargs)
        if not fired:
            fired.append(True)
            other.append(_df(spark, [(-5, "bad", "x")]))
        return df

    t.read = read_then_race
    with pytest.raises(ConcurrentWriteError):
        t.add_constraint("kpos", "k >= 0")
    del t.read
    assert fired
    assert t.constraints() == {}
    assert t.current_version() == 2

    t.add_constraint("k_small", "k < 100")
    orig_cv = t.current_version
    raced = []

    def head_then_race():
        v = orig_cv()
        if not raced:
            raced.append(True)
            other.add_constraint("v_set", "v IS NOT NULL")
        return v

    t.current_version = head_then_race
    with pytest.raises(ConcurrentWriteError):
        t.drop_constraint("k_small")
    del t.current_version
    assert t.constraints() == {"k_small": "k < 100", "v_set": "v IS NOT NULL"}


def test_mv_bootstrap_aggregates_the_version_it_records(spark, tmp_path):
    """bootstrap() records the source version it aggregated as the
    refresh cursor: a source commit landing right after it resolved that
    version is folded in by the next refresh — exactly once."""
    src = LakeTable(spark, str(tmp_path / "src"))
    dst = LakeTable(spark, str(tmp_path / "mv"))
    mv = MaterializedAggregate(src, dst, ["g"], {})
    rows = "k int, g string"
    src.overwrite(spark.createDataFrame([(1, "a")], rows))
    other = LakeTable(spark, src.root)
    orig_cv = src.current_version
    raced = []

    def head_then_race():
        v = orig_cv()
        if not raced:
            raced.append(True)
            other.append(spark.createDataFrame([(2, "a")], rows))
        return v

    src.current_version = head_then_race
    assert mv.bootstrap() == 1
    del src.current_version
    assert mv.refresh() == 2
    assert [(r.g, r.n_rows) for r in dst.read().collect()] == [("a", 2)]


def test_stream_source_rolls_forward_over_torn_commit(spark, tmp_path, monkeypatch):
    """A writer that dies after linking its manifest but before moving
    ``_LATEST`` has committed; the stream source's offsets, its
    ``startingVersion=latest`` position and its schema must all see that
    commit, exactly as LakeTable.current_version() does."""
    from pyspark.sql.pandas.types import from_arrow_schema

    root = str(tmp_path / "m")
    t = LakeTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, "a", 1.0)], "id int, k string, v double"))

    def crash(point):
        if point == "manifest_linked":
            raise RuntimeError(point)

    monkeypatch.setattr(lake_log, "_crash_hook", crash)
    with pytest.raises(RuntimeError, match="manifest_linked"):
        t.append(
            spark.createDataFrame(
                [(2, "b", 2.0, "new")], "id int, k string, v double, extra string"
            )
        )
    monkeypatch.setattr(lake_log, "_crash_hook", lambda p: None)
    latest = os.path.join(root, "_manifest", "_LATEST")

    def lagging_pointer():
        # the torn state: v2 linked, the cache still names v1 (each
        # check below starts from it, since a roll-forward heals it)
        with open(latest, "w") as f:
            f.write("1")

    lagging_pointer()
    schema = _snapshot_arrow_schema(root)
    assert "extra" in schema.names
    spark_schema = from_arrow_schema(schema)

    lagging_pointer()
    reader = LakeTableStreamReader({"path": root, "startingversion": "earliest"}, spark_schema)
    assert reader.latestOffset() == {"version": 2}

    lagging_pointer()
    tail = LakeTableStreamReader({"path": root, "startingversion": "latest"}, spark_schema)
    assert tail.initialOffset() == {"version": 2}

    assert t.current_version() == 2


def test_warm_handle_dml_opens_one_manifest(spark, tmp_path, monkeypatch):
    """Manifest I/O budget per operation on a warm handle (its head
    version already read once): exactly one ``v*.json`` open — the head
    read — and at most two ``_LATEST`` opens, one at op start and one
    for the commit-time head check."""
    opens = {"json": 0, "latest": 0}
    real_open = builtins.open

    def counting_open(path, *args, **kwargs):
        p = str(path)
        if os.path.basename(os.path.dirname(p)) == "_manifest":
            name = os.path.basename(p)
            if name == "_LATEST":
                opens["latest"] += 1
            elif name.startswith("v") and name.endswith(".json"):
                opens["json"] += 1
        return real_open(path, *args, **kwargs)

    ops = {
        "merge": lambda t: t.merge(_df(spark, [(2, "B", "y"), (20, "n", "x")]), keys=["k"]),
        "append": lambda t: t.append(_df(spark, [(30, "a", "x")])),
        "merge_txn": lambda t: t.merge(
            _df(spark, [(5, "T", "x")]), keys=["k"], txn={"app_id": "w", "version": 1}
        ),
        "append_replayed": lambda t: t.append(
            _df(spark, [(31, "r", "x")]), txn={"app_id": "w", "version": 1}
        ),
        "update": lambda t: t.update("k = 3", {"v": "'U'"}),
        "delete": lambda t: t.delete("k = 4"),
        "set_properties": lambda t: t.set_properties({"owner": "etl"}),
        "add_constraint": lambda t: t.add_constraint("kpos", "k >= 0"),
    }
    got = {}
    for layout, pby in (("unpartitioned", None), ("partitioned", ["part"])):
        t = LakeTable(spark, str(tmp_path / layout))
        t.overwrite(
            _df(spark, [(i, f"v{i}", "x" if i % 2 else "y") for i in range(1, 9)]),
            partition_by=pby,
        )
        for name, op in ops.items():
            t.read()  # warm: this version's snapshot already read once
            opens.update(json=0, latest=0)
            monkeypatch.setattr(builtins, "open", counting_open)
            try:
                op(t)
            finally:
                monkeypatch.setattr(builtins, "open", real_open)
            got[(layout, name)] = (opens["json"], opens["latest"])
    over_budget = {k: v for k, v in got.items() if v[0] != 1 or v[1] > 2}
    assert not over_budget, f"(v*.json, _LATEST) opens per op: {got}"


def test_read_of_many_dirs_launches_no_spark_job(spark, tmp_path, spark_jobs):
    """Building read() of a version spanning several data dirs launches
    no Spark job, partitioned or not: every scan passes the schema the
    manifest records instead of inferring it from parquet footers (one
    job per dir)."""
    launched = {}
    for layout, pby in (("unpartitioned", None), ("partitioned", ["part"])):
        t = LakeTable(spark, str(tmp_path / layout))
        t.overwrite(_df(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=pby)
        t.append(_df(spark, [(3, "c", "x")]))
        t.append(_df(spark, [(4, "d", "y")]))
        assert len(t._manifest(t.current_version())["data_dirs"]) == 3
        with spark_jobs(f"lake-read-budget-{layout}") as jobs:
            df = LakeTable(spark, t.root).read()
        launched[layout] = len(jobs.ids)
        assert sorted(r.k for r in df.collect()) == [1, 2, 3, 4]
    assert launched == {"unpartitioned": 0, "partitioned": 0}


def test_apply_changes_scd2_commits_on_the_head_it_read(spark, tmp_path):
    """apply_changes_scd2 derives the new history from the head it read
    and merges against that same head: a commit landing in between must
    fail the commit, never be absorbed into intervals computed without
    it (which would leave key 1 with two open rows)."""
    root = str(tmp_path / "dim")
    dim = LakeTable(spark, root)
    other = LakeTable(spark, root)

    def feed(rows):
        return spark.createDataFrame(
            rows, "k int, v string, _change_type string, seq int"
        )

    dim.apply_changes_scd2(feed([(1, "a", "insert", 10)]), keys=["k"], sequence_col="seq")
    orig_merge = dim._merge
    fired = []

    def race_then_merge(*args, **kwargs):
        if not fired:
            fired.append(True)
            other.apply_changes_scd2(
                feed([(1, "b", "update_postimage", 15)]), keys=["k"], sequence_col="seq"
            )
        return orig_merge(*args, **kwargs)

    dim._merge = race_then_merge
    with pytest.raises(ConcurrentWriteError):
        dim.apply_changes_scd2(
            feed([(1, "c", "update_postimage", 20)]), keys=["k"], sequence_col="seq"
        )
    del dim._merge
    assert fired
    hist = {
        (r.k, r["__start_at"]): (r.v, r["__end_at"]) for r in dim.read().collect()
    }
    assert hist == {(1, 10): ("a", 15), (1, 15): ("b", None)}


KVP = "k int, v string, part string"


def test_replayed_txn_is_skipped_by_every_write_op(spark, tmp_path, spark_jobs):
    """Each write op that takes ``txn`` returns the head version when the
    head already records that transaction: no manifest, no Spark job."""
    t = LakeTable(spark, str(tmp_path / "t"))
    txn = {"app_id": "job", "version": 3}
    t.overwrite(_frame(spark, [(1, "a", "x"), (2, "b", "y")], KVP), txn=txn)
    head = t.current_version()
    batch = _frame(spark, [(2, "B", "y"), (9, "n", "x")], KVP)
    cdc = _frame(
        spark,
        [(2, "B", "y", "update_postimage", 1), (1, None, None, "delete", 1)],
        "k int, v string, part string, _change_type string, _seq int",
    )
    ops = {
        "overwrite": lambda: t.overwrite(batch, txn=txn),
        "append": lambda: t.append(batch, txn=txn),
        "merge": lambda: t.merge(batch, keys=["k"], txn=txn),
        "apply_changes": lambda: t.apply_changes(cdc, ["k"], "_seq", txn=txn),
        "apply_changes_scd2": lambda: t.apply_changes_scd2(cdc, ["k"], "_seq", txn=txn),
    }
    got = {}
    for name, op in ops.items():
        with spark_jobs(f"replayed-txn-{name}") as jobs:
            v = op()
        got[name] = (v, len(jobs.ids))
    assert got == {name: (head, 0) for name in ops}
    assert len(t.history()) == 1
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_replayed_scd2_batch_with_two_changes_to_a_key(spark, tmp_path):
    """A replayed SCD2 batch holding two changes to one key would fail the
    late-arrival check (its first change is older than the history it
    wrote); the table skips it before that check runs."""
    dim = LakeTable(spark, str(tmp_path / "dim"))
    cdc = _frame(
        spark,
        [(1, "a", "insert", 1), (1, "a2", "update_postimage", 2), (2, "b", "insert", 1)],
        "k int, v string, _change_type string, _seq int",
    )
    txn = {"app_id": "scd2", "version": 0}
    v = dim.apply_changes_scd2(cdc, ["k"], "_seq", txn=txn)
    assert dim.apply_changes_scd2(cdc, ["k"], "_seq", txn=txn) == v
    assert dim.current_version() == v
    rows = dim.read().select("k", "v", "__start_at", "__end_at").collect()
    assert sorted(map(tuple, rows)) == [(1, "a", 1, 2), (1, "a2", 2, None), (2, "b", 1, None)]


def test_racing_append_replays_land_once(spark, tmp_path):
    """Two handles replay one transaction; the second commits while the
    first writes its data. The first must see its transaction landed,
    not rebase over it: the row is committed once."""
    root = str(tmp_path / "log")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    a.overwrite(_frame(spark, [(1, "a", "x")], KVP))
    txn = {"app_id": "replay", "version": 7}
    row = _frame(spark, [(2, "b", "y")], KVP)
    restore = _interleave(a, lambda: b.append(row, txn=txn))
    try:
        v = a.append(row, txn=txn)
    finally:
        restore()
    assert v == a.current_version() == 2
    assert sorted(r.k for r in a.read().collect()) == [1, 2]


def test_racing_rollup_replays_land_once(spark, tmp_path):
    """The same race on a rollup fold, an overwrite: the loser returns
    instead of raising ConcurrentWriteError, and the sums hold the
    batch once."""
    root = str(tmp_path / "rollup")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    hour = pd.Timestamp("2024-01-01 10:00:00")

    def events(values):
        rows = [(hour, "view", x) for x in values]
        return _frame(spark, rows, "ts timestamp, event_type string, value double")

    apply_rollup_batch(a, events([1.0, 2.0]), 0)
    restore = _interleave(a, lambda: apply_rollup_batch(b, events([4.0]), 1))
    try:
        apply_rollup_batch(a, events([4.0]), 1)
    finally:
        restore()
    assert a.current_version() == 2
    assert a.last_txn(ROLLUP_TXN_APP) == 1
    assert [(r.n_events, r.total_value) for r in a.read().collect()] == [(3, 7.0)]


def test_head_without_txns_map_is_refused_by_name(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "bare"))
    t.overwrite(_frame(spark, [(1, "a", "x")], KVP), txn={"app_id": "job", "version": 1})
    path = os.path.join(t._manifest_dir, f"v{t.current_version():08d}.json")
    with open(path) as f:
        m = json.load(f)
    del m["txns"]
    with open(path, "w") as f:
        json.dump(m, f)
    refused = re.escape(f"table {t.root}: manifest v1 records no txns")
    with pytest.raises(ValueError, match=refused):
        t.last_txn("job")
    with pytest.raises(ValueError, match=refused):
        t.append(_frame(spark, [(2, "b", "y")], KVP), txn={"app_id": "job", "version": 1})
    with pytest.raises(ValueError, match=refused):
        t.append(_frame(spark, [(2, "b", "y")], KVP))
    assert t.current_version() == 1


def _after_read(t: LakeTable, winner_op):
    """Run ``winner_op`` (another handle's commit) right after ``t``'s
    next read() returns: between a fold's read and its write."""
    orig = t.read

    def read_then_race(*args, **kwargs):
        df = orig(*args, **kwargs)
        del t.read
        winner_op()
        return df

    t.read = read_then_race
    return lambda: t.__dict__.pop("read", None)


# where another handle's commit lands inside a fold of handle ``a``
RACES = {"after_read": _after_read, "during_write": _interleave}


def _events(spark, values):
    hour = pd.Timestamp("2024-01-01 10:00:00")
    rows = [(hour, "view", x) for x in values]
    return _frame(spark, rows, "ts timestamp, event_type string, value double")


@pytest.mark.parametrize("race", sorted(RACES))
def test_racing_rollup_fold_raises_instead_of_replacing(spark, tmp_path, race):
    """Handle a folds batch 2 while handle b's batch 1 lands after a
    read the rollup: a raises ConcurrentWriteError and the rollup holds
    batches 0 and 1; a retry of batch 2 folds on top of them. Replacing
    b's commit would leave 2 events and 101.0."""
    root = str(tmp_path / "rollup")
    a, b = LakeTable(spark, root), LakeTable(spark, root)

    def sums():
        return [(r.n_events, r.total_value) for r in a.read().collect()]

    apply_rollup_batch(a, _events(spark, [1.0]), 0)
    restore = RACES[race](a, lambda: apply_rollup_batch(b, _events(spark, [10.0]), 1))
    try:
        with pytest.raises(ConcurrentWriteError):
            apply_rollup_batch(a, _events(spark, [100.0]), 2)
    finally:
        restore()
    assert sums() == [(2, 11.0)]
    apply_rollup_batch(a, _events(spark, [100.0]), 2)
    assert sums() == [(3, 111.0)]
    assert a.last_txn(ROLLUP_TXN_APP) == 2


@pytest.mark.parametrize("race", sorted(RACES))
def test_racing_mv_fold_raises_instead_of_replacing(spark, tmp_path, race):
    """The same race on a merge-shaped fold: two handles fold change-feed
    slices into one materialized aggregate."""
    src = LakeTable(spark, str(tmp_path / "src"))
    root = str(tmp_path / "mart")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    mv_a = MaterializedAggregate(src, a, ["g"], {"s": "x"})
    mv_b = MaterializedAggregate(src, b, ["g"], {"s": "x"})

    def feed(x):
        return _frame(spark, [("g1", x, "insert")], "g string, x double, _change_type string")

    def mart():
        return [(r.g, r.n_rows, r.s) for r in a.read().collect()]

    mv_a.fold(feed(1.0), txn={"app_id": "mv", "version": 0})
    restore = RACES[race](a, lambda: mv_b.fold(feed(10.0), txn={"app_id": "mv", "version": 1}))
    try:
        with pytest.raises(ConcurrentWriteError):
            mv_a.fold(feed(100.0), txn={"app_id": "mv", "version": 2})
    finally:
        restore()
    assert mart() == [("g1", 2, Decimal("11.00"))]
    mv_a.fold(feed(100.0), txn={"app_id": "mv", "version": 2})
    assert mart() == [("g1", 3, Decimal("111.00"))]
    assert a.history()[-1]["operation"] == "mv_refresh"


def test_fold_with_an_applied_txn_runs_no_step(spark, tmp_path, spark_jobs):
    """A fold whose txn the head records (at that version or a later
    one) returns the head version without calling its step: no commit,
    no Spark job, in either shape."""
    t = LakeTable(spark, str(tmp_path / "state"))
    t.overwrite(_frame(spark, [(1, "a", "x")], KVP), txn={"app_id": "fold", "version": 4})
    t.append(_frame(spark, [(2, "b", "y")], KVP))
    head = t.current_version()
    called = []

    def step(snapshot):
        called.append(snapshot)
        return snapshot

    got = {}
    for shape, keys in (("overwrite", None), ("merge", ["k"])):
        for version in (3, 4):
            with spark_jobs(f"fold-replay-{shape}-{version}") as jobs:
                v = t.fold(step, txn={"app_id": "fold", "version": version}, keys=keys)
            got[(shape, version)] = (v, len(jobs.ids))
    assert got == {k: (head, 0) for k in got}
    assert called == []
    assert t.current_version() == head


def test_replayed_curate_batch_runs_no_label_propagation(spark, tmp_path, monkeypatch):
    """A replay of a fully applied curate batch skips the clusters fold
    before its step: incremental_components never runs, and no stage
    commits."""
    import ecommerce_lakehouse_spark.operators.graph as graph
    from ecommerce_lakehouse_spark.pipelines.curation import curate

    text = "the quick brown fox jumps over the lazy dog near the river bank"

    def docs(rows):
        return _frame(spark, rows, "doc_id bigint, lang string, source string, text string")

    root = str(tmp_path / "cur")
    curate(spark, docs([(1, "en", "web", text)]), root, txn={"app_id": "c", "version": 1})
    calls = []
    real = graph.incremental_components

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(graph, "incremental_components", counted)
    batch = docs([(2, "en", "web", text.replace("lazy", "sleepy"))])
    t = curate(spark, batch, root, txn={"app_id": "c", "version": 2})
    assert calls == [1]
    versions = {s: t[s].current_version() for s in t}
    t = curate(spark, batch, root, txn={"app_id": "c", "version": 2})
    assert calls == [1]
    assert {s: t[s].current_version() for s in t} == versions


def test_dml_refuses_a_data_dir_storage_lacks(spark, tmp_path):
    """A data dir the head manifest names but storage lacks: merge,
    delete, update and compact(where=) raise naming the dir and the
    manifest version, and commit nothing — never a version without the
    dir's rows. fsck() then reports the dir."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_frame(spark, [(1, "a", "x"), (2, "b", "y")], KVP), partition_by=["part"])
    t.append(_frame(spark, [(3, "c", "x")], KVP))
    lost = t._manifest(1)["data_dirs"][0]["path"]
    shutil.rmtree(lost)
    ops = {
        "merge": lambda: t.merge(_frame(spark, [(4, "d", "y")], KVP), keys=["k"]),
        "delete": lambda: t.delete("k = 3"),
        "update": lambda: t.update("k = 3", {"v": "'C'"}),
        "compact": lambda: t.compact(where="part = 'x'"),
    }
    named = re.escape(f"data dir {lost} named by manifest v2 is missing")
    for op in ops.values():
        with pytest.raises(FileNotFoundError, match=named):
            op()
    assert t.current_version() == 2
    assert t.fsck()["missing_dirs"] == [lost]


def _race_into_commit(monkeypatch, winner_op):
    """Run ``winner_op`` (another handle's commit) when the next commit
    enters: the loser has read its head and written its data."""
    fired = []

    def hook(point):
        if point == "commit_enter" and not fired:
            fired.append(point)
            winner_op()

    monkeypatch.setattr(lake_log, "_crash_hook", hook)


PQ = "k int, p string, q string"


def test_append_refuses_to_rebase_over_a_repartition(spark, tmp_path, monkeypatch):
    """A blind append racing an overwrite that changes ``partition_by``
    must not rebase: its ``p=``-laid-out dir under a manifest that says
    ``["q"]`` reads back, but ``read_skipping`` on ``q`` drops its row."""
    root = str(tmp_path / "t")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    a.overwrite(_frame(spark, [(1, "x", "o")], PQ), partition_by=["p"])
    _race_into_commit(
        monkeypatch,
        lambda: a.overwrite(_frame(spark, [(2, "y", "o")], PQ), partition_by=["q"]),
    )
    with pytest.raises(ConcurrentWriteError, match="partition_by"):
        b.append(_frame(spark, [(3, "z", "o")], PQ))
    assert b.current_version() == 2
    assert b._manifest(2)["partition_by"] == ["q"]
    got = b.read_skipping({"q": ("o", "o")}).select("k", "p", "q").collect()
    assert [tuple(r) for r in got] == [(2, "y", "o")]


def test_append_refuses_to_rebase_over_a_property_change(spark, tmp_path, monkeypatch):
    """A blind append on an identity table racing ``set_properties``
    must not rebase: it would commit its stale ``properties`` (with the
    advanced identity watermark) and drop the winner's key."""
    root = str(tmp_path / "t")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    a.overwrite(_frame(spark, [(1, "x", "o")], PQ))
    a.set_identity("k")
    _race_into_commit(monkeypatch, lambda: a.set_properties({"target_file_bytes": 1234}))
    with pytest.raises(ConcurrentWriteError, match="properties"):
        b.append(_frame(spark, [(5, "z", "o")], PQ))
    assert b.current_version() == 3
    assert b.properties()["target_file_bytes"] == 1234
    assert b.properties()["identity"]["high_watermark"] == 2
    assert sorted(r.k for r in b.read().collect()) == [1]
