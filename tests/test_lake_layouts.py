"""One copy-on-write DML path for both table layouts: a partitioned
LakeTable and its unpartitioned twin run the same seeded op sequence and
must serve the rows a pandas model holds after every step, and the same
change feed; two-handle interleavings pin the partitioned rebase rules.
"""

import random

import pandas as pd
import pytest

from ecommerce_lakehouse_spark.lake import ConcurrentWriteError, LakeTable

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
