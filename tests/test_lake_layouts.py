"""One copy-on-write DML path for both table layouts: a partitioned
LakeTable and its unpartitioned twin run the same seeded op sequence and
must serve the rows a pandas model holds after every step, and the same
change feed; two-handle interleavings pin the partitioned rebase rules.
Each op runs a fixed number of Spark jobs in either layout, and merge
evaluates its batch once: one pass materializes it and observes its key
ranges and CHECK-constraint flags.
"""

import random

import pandas as pd
import pyspark.sql.functions as F
import pytest

from ecommerce_lakehouse_spark.lake import ConcurrentWriteError, LakeTable
from ecommerce_lakehouse_spark.lake.table import ConstraintViolationError

COLS = ["id", "v", "p", "n"]
SCHEMA = "id int, v string, p string, n int"
# one partition value needs hive path escaping (':', '/', '%', ' ')
PARTS = ["a", "b", "a:b/c %"]


def _frame(spark, rows: list[tuple], schema: str):
    """``rows`` as a DataFrame built through Arrow — a list-built frame
    re-runs Python tasks on every evaluation, seconds per DML op."""
    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _rows(table: LakeTable) -> list[tuple]:
    return sorted(tuple(r) for r in table.read().select(*COLS).collect())


def _model_rows(model: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(r.id), r.v, r.p, int(r.n)) for r in model[COLS].itertuples(index=False)
    )


def _feed(table: LakeTable, v: int) -> list[tuple]:
    ch = table.changes(v, v, keys=["id"])
    return sorted(tuple(r) for r in ch.select(*COLS, "_change_type").collect())


def _upsert(model: pd.DataFrame, rows: list[tuple]) -> pd.DataFrame:
    new = pd.DataFrame(rows, columns=COLS)
    return pd.concat([model, new]).drop_duplicates("id", keep="last").reset_index(drop=True)


def test_partitioned_and_unpartitioned_twins_agree(spark, tmp_path):
    rng = random.Random(11)
    part = LakeTable(spark, str(tmp_path / "part"))
    flat = LakeTable(spark, str(tmp_path / "flat"))
    twins = (part, flat)

    def check(model):
        want = _model_rows(model)
        assert _rows(part) == want
        assert _rows(flat) == want

    base = [(i, f"v{i}", rng.choice(PARTS), rng.randrange(100)) for i in range(48)]
    df = _frame(spark, base, SCHEMA).repartition(3)
    part.overwrite(df, partition_by=["p"])
    flat.overwrite(df)
    model = pd.DataFrame(base, columns=COLS)
    check(model)

    # merge: value updates, partition-moving keys, inserts
    upd = [(i, f"m{i}", rng.choice(PARTS), rng.randrange(100)) for i in rng.sample(range(48), 8)]
    upd += [(100 + i, f"new{i}", rng.choice(PARTS), rng.randrange(100)) for i in range(3)]
    for t in twins:
        t.merge(_frame(spark, upd, SCHEMA), keys=["id"])
    model = _upsert(model, upd)
    check(model)

    for t in twins:
        t.delete("n % 7 = 0")
    model = model[model.n % 7 != 0]
    check(model)

    for t in twins:
        t.update("n < 30", {"v": "concat(v, '!')"})
    model = model.assign(v=[v + "!" if n < 30 else v for v, n in zip(model.v, model.n)])
    check(model)

    # apply_changes: per key the highest sequence wins; deletes remove
    live = sorted(model.id)
    cdc = [(i, f"c{i}", rng.choice(PARTS), rng.randrange(100), "update_postimage", 2)
           for i in live[:4]]
    cdc += [(live[4], "stale", "a", 1, "update_postimage", 1),
            (live[4], "x", "a", 1, "delete", 2),
            (live[5], "x", "b", 1, "delete", 3),
            (200, "ins", "a:b/c %", 5, "insert", 1)]
    for t in twins:
        t.apply_changes(
            _frame(spark, cdc, SCHEMA + ", _change_type string, _seq int"),
            keys=["id"], sequence_col="_seq",
        )
    model = _upsert(model, [r[:4] for r in cdc if r[4] != "delete" and r[5] == 2] + [cdc[-1][:4]])
    model = model[~model.id.isin([live[4], live[5]])]
    check(model)

    part.compact(target_partitions=1, where="p = 'a:b/c %'")
    flat.compact()
    check(model)

    assert part.current_version() == flat.current_version()
    for v in range(2, part.current_version() + 1):
        assert _feed(part, v) == _feed(flat, v), v

    before = part.current_version()
    for t in twins:
        t.restore(2)
    assert _feed(part, before + 1) == _feed(flat, before + 1)
    assert _rows(part) == _rows(flat) == sorted(tuple(r) for r in part.read(version=2).select(*COLS).collect())

    # every entry any commit wrote is a {path, files, ...} dict
    for t in twins:
        for m in t.history():
            assert all(isinstance(e, dict) and "files" in e for e in m["data_dirs"])


def _interleave(a: LakeTable, winner_op):
    """Run ``winner_op`` (another handle's commit) while ``a`` writes its
    rewrite dir — after ``a`` read its head and chose its files."""
    orig = LakeTable._write_dir_entry
    fired = {}

    def hooked(self, df, prior, *rest):
        if self is a and not fired:
            fired["done"] = True
            winner_op()
        return orig(self, df, prior, *rest)

    LakeTable._write_dir_entry = hooked
    return lambda: setattr(LakeTable, "_write_dir_entry", orig)


@pytest.fixture()
def handles(spark, tmp_path):
    root = str(tmp_path / "occ")
    a, b = LakeTable(spark, root), LakeTable(spark, root)
    # one file per partition
    a.overwrite(
        _frame(
            spark,
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "d", "x")],
            "k int, v string, part string",
        ).coalesce(1),
        partition_by=["part"],
    )
    return a, b


def _live(t: LakeTable, version: int) -> set[str]:
    return {f"{d}/{rel}" for d, rel, _ in t._file_inventory(t._manifest(version))}


def test_disjoint_partition_winner_rebases(spark, handles):
    a, b = handles
    upd = _frame(spark, [(2, "B", "y")], "k int, v string, part string")
    restore = _interleave(a, lambda: b.merge(upd, keys=["k"]))
    try:
        v = a.update("k = 1", {"v": "'A'"})
    finally:
        restore()
    assert v == 3 and a.history()[-1]["operation"] == "update"
    won, head = _live(a, 2), _live(a, 3)
    x_file = {f for f in _live(a, 1) if "/part=x/" in f}
    assert len(x_file) == 1
    # the winner's files stay; exactly the loser's touched file leaves
    assert won - head == x_file
    new = head - won
    assert new and all("/part=x/" in f for f in new)
    assert sorted((r.k, r.v) for r in a.read().collect()) == [(1, "A"), (2, "B"), (3, "c"), (4, "d")]


def test_overlapping_partition_loser_raises(spark, handles):
    a, b = handles
    restore = _interleave(a, lambda: b.delete("k = 4"))
    try:
        with pytest.raises(ConcurrentWriteError):
            a.update("k = 1", {"v": "'A'"})
    finally:
        restore()
    assert sorted((r.k, r.v) for r in a.read().collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_winning_compaction_of_touched_file_raises(spark, handles):
    a, b = handles
    restore = _interleave(a, lambda: b.compact(where="part = 'x'"))
    try:
        with pytest.raises(ConcurrentWriteError):
            a.delete("k = 1")
    finally:
        restore()
    assert a.history()[-1]["operation"] == "compact"
    assert sorted(r.k for r in a.read().collect()) == [1, 2, 3, 4]


BASE = [(i, f"v{i}", "ab"[i % 2], i) for i in range(40)]


def _ranged(spark, root: str, partition_by=None) -> LakeTable:
    """BASE in four files, each holding one range of ten ids."""
    t = LakeTable(spark, root)
    t.overwrite(_frame(spark, BASE, SCHEMA).repartitionByRange(4, "id"), partition_by=partition_by)
    return t


@pytest.mark.parametrize("partition_by", [None, ["p"]], ids=["unpartitioned", "partitioned"])
def test_dml_job_budget(spark, tmp_path, spark_jobs, partition_by):
    """merge runs at most 5 Spark jobs (materialize the batch, broadcast
    its keys and scan for touched files, broadcast them again for the
    upsert's anti-join and write); delete and update run 2 (touched-file
    scan, write); compact(where=) runs 1 (the write: its files are
    chosen on a local relation). apply_changes with deletes runs 6: one
    pass materializes its upserts and delete keys together (the
    sequencing window's shuffle runs as a job of its own), and the
    rewrite anti-joins both in one broadcast.
    A merge that supplies a generated column checks it in the pass that
    materializes the batch, so it stays within merge's 5 jobs."""
    layout = "partitioned" if partition_by else "unpartitioned"
    t = _ranged(spark, str(tmp_path / layout), partition_by)
    model = pd.DataFrame(BASE, columns=COLS)
    launched = {}

    batch = [(3, "m3", "a", 3), (5, "m5", "b", 5), (41, "new", "b", 41)]
    df = _frame(spark, batch, SCHEMA)
    with spark_jobs(f"dml-budget-merge-{layout}") as jobs:
        t.merge(df, keys=["id"])
    launched["merge"] = len(jobs.ids)
    model = _upsert(model, batch)

    with spark_jobs(f"dml-budget-delete-{layout}") as jobs:
        t.delete("id = 7")
    launched["delete"] = len(jobs.ids)
    model = model[model.id != 7]

    with spark_jobs(f"dml-budget-update-{layout}") as jobs:
        t.update("id = 9", {"v": "'u9'"})
    launched["update"] = len(jobs.ids)
    model = model.assign(v=model.v.where(model.id != 9, "u9"))

    if partition_by:
        with spark_jobs(f"dml-budget-compact-{layout}") as jobs:
            t.compact(where="p = 'a'")
        launched["compact"] = len(jobs.ids)

    cdc = _frame(
        spark,
        [(11, "c11", "b", 11, "update_postimage", 1), (13, "x", "b", 13, "delete", 1)],
        SCHEMA + ", _change_type string, _seq int",
    )
    with spark_jobs(f"dml-budget-apply-changes-{layout}") as jobs:
        t.apply_changes(cdc, ["id"], "_seq")
    launched["apply_changes"] = len(jobs.ids)
    model = _upsert(model, [(11, "c11", "b", 11)])
    model = model[model.id != 13]

    assert _rows(t) == _model_rows(model)
    assert launched.pop("merge") <= 5, launched
    want = {"delete": 2, "update": 2, "apply_changes": 6}
    if partition_by:
        want["compact"] = 1
    assert launched == want

    g = _ranged(spark, str(tmp_path / f"{layout}-generated"), partition_by)
    g.add_generated_column("w", "n * 2")
    supplied = _frame(spark, [(3, "m3", "a", 3, 6)], SCHEMA + ", w int")
    with spark_jobs(f"dml-budget-merge-generated-{layout}") as jobs:
        g.merge(supplied, keys=["id"])
    assert len(jobs.ids) <= 5, jobs.ids


def _offset_udf(path: str):
    """A non-deterministic UDF adding the integer stored in ``path`` to
    its input: rewrite the file and a re-evaluated frame changes."""

    def shifted(x):
        with open(path) as f:
            return x + int(f.read())

    return F.udf(shifted, "int").asNondeterministic()


@pytest.fixture
def reevaluation_offset(tmp_path, monkeypatch):
    """``(udf, set_after_discovery)``: the offset starts at 0; calling
    ``set_after_discovery(k)`` makes every later _files_holding call
    store ``k`` once it returns, so a frame evaluated again after
    touched-file discovery reads the new offset."""
    path = str(tmp_path / "offset")
    with open(path, "w") as f:
        f.write("0")
    real = LakeTable._files_holding

    def set_after_discovery(k: int):
        def files_holding(self, *args, **kwargs):
            out = real(self, *args, **kwargs)
            with open(path, "w") as f:
                f.write(str(k))
            return out

        monkeypatch.setattr(LakeTable, "_files_holding", files_holding)

    return _offset_udf(path), set_after_discovery


def test_merge_commits_one_evaluation_of_its_batch(spark, tmp_path, reevaluation_offset):
    """A batch whose keys change between evaluations: a second
    evaluation after file discovery would insert keys 21 and 22 next to
    their untouched live copies. The table must hold each key once and
    equal the upsert of one evaluation."""
    shifted, set_after_discovery = reevaluation_offset
    t = _ranged(spark, str(tmp_path / "t"))
    batch = [(1, "m1", "b", 1), (2, "m2", "a", 2)]
    set_after_discovery(20)
    t.merge(_frame(spark, batch, SCHEMA).withColumn("id", shifted("id")), keys=["id"])

    got = _rows(t)
    assert len({r[0] for r in got}) == len(got), "a key was committed twice"
    base = pd.DataFrame(BASE, columns=COLS)
    first = _model_rows(_upsert(base, batch))
    second = _model_rows(_upsert(base, [(i + 20, *rest) for i, *rest in batch]))
    assert got in (first, second)


def test_merge_checks_the_rows_it_writes(spark, tmp_path, reevaluation_offset):
    """CHECK constraints are enforced on the rows merge writes: a
    violating value that only a re-evaluation after file discovery would
    produce must never commit."""
    shifted, set_after_discovery = reevaluation_offset
    t = _ranged(spark, str(tmp_path / "t"))
    t.add_constraint("n_nonneg", "n >= 0")
    batch = [(1, "m1", "b", 5), (2, "m2", "a", 6)]
    set_after_discovery(-100)
    t.merge(_frame(spark, batch, SCHEMA).withColumn("n", shifted("n")), keys=["id"])

    assert _rows(t) == _model_rows(_upsert(pd.DataFrame(BASE, columns=COLS), batch))


def test_merge_checks_the_generated_values_it_writes(spark, tmp_path, monkeypatch):
    """A supplied generated column is checked on the rows merge writes:
    a value that agrees with its expression while the generated columns
    are applied, but not when the batch is evaluated again for the
    write, must be rejected, never committed."""
    path = str(tmp_path / "offset")
    with open(path, "w") as f:
        f.write("0")
    real = LakeTable._apply_generated

    def apply_then_shift(self, *args):
        out = real(self, *args)
        with open(path, "w") as f:
            f.write("1")
        return out

    t = _ranged(spark, str(tmp_path / "t"))
    t.add_generated_column("w", "n * 2")
    monkeypatch.setattr(LakeTable, "_apply_generated", apply_then_shift)
    batch = _frame(spark, [(1, "m1", "b", 5, 10)], SCHEMA + ", w int")
    with pytest.raises(ConstraintViolationError, match="generated:w"):
        t.merge(batch.withColumn("w", _offset_udf(path)("w")), keys=["id"])
    assert t.history()[-1]["operation"] == "add_generated_column"
