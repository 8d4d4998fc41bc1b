"""Change Data Feed (LakeTable.changes) — Delta table_changes parity:
insert/delete/update_pre+postimage classification per commit, derived
from manifests reading only the touched slices."""

import pytest

from ecommerce_lakehouse_spark.lake.table import LakeTable

# end-to-end storage/streaming/property tier (README two-tier note):
# the fast path skips these with  -m "not slow"
pytestmark = pytest.mark.slow


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, k string, v double")


def _feed(t, start, end=None, keys=None):
    rows = t.changes(start, end, keys=keys).collect()
    return sorted((r._commit_version, r._change_type, r.id, r.v) for r in rows)


def test_cdf_append_and_delete(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1))  # v1
    t.append(_df(spark, [(3, "a", 3.0)]))  # v2
    t.delete("id = 2")  # v3: rewrite drops id=2, carries id=1

    assert _feed(t, 1, 1) == [(1, "insert", 1, 1.0), (1, "insert", 2, 2.0)]
    assert _feed(t, 2, 2) == [(2, "insert", 3, 3.0)]
    assert _feed(t, 3, 3) == [(3, "delete", 2, 2.0)]
    # whole range composes
    assert len(_feed(t, 1)) == 4


def test_cdf_merge_updates_with_keys(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "m"))
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]).coalesce(1))
    t.merge(_df(spark, [(2, "b", 20.0), (4, "c", 4.0)]), keys=["id"])  # v2

    got = _feed(t, 2, 2, keys=["id"])
    assert got == [
        (2, "insert", 4, 4.0),
        (2, "update_postimage", 2, 20.0),
        (2, "update_preimage", 2, 2.0),
    ]
    # unchanged pass-through rows (1, 3) cancel out of the feed entirely
    assert all(r[2] in (2, 4) for r in got)


def test_cdf_partitioned_merge_reads_only_touched_partitions(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "p"))
    t.overwrite(
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
        partition_by=["k"],
    )
    t.merge(_df(spark, [(2, "b", 20.0)]), keys=["id"])  # touches k=b only

    import re

    # long metadata so the plan string keeps the scanned paths; baked in
    # at node build time, so set it BEFORE constructing the feed
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        feed = t.changes(2, 2, keys=["id"])
        rows = sorted((r._change_type, r.id) for r in feed.collect())
        plan = feed._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert rows == [("update_postimage", 2), ("update_preimage", 2)]
    # touched-only scan, proven at plan level: every scan of the PRIOR
    # dir lists only the k=b file the merge rewrote (the new dir
    # physically holds only k=b, so the whole feed never opens k=a / k=c
    # files)
    prior_parts = re.findall(r"v00000001-[0-9a-f]{12}/(k=[^/]*)/", plan)
    assert prior_parts and set(prior_parts) == {"k=b"}, prior_parts


def test_cdf_compaction_and_metadata_emit_nothing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "c"))
    t.overwrite(_df(spark, [(1, "a", 1.0)]))  # v1
    t.compact()  # v2: physical only
    t.add_constraint("v_pos", "v > 0")  # v3: metadata only
    t.optimize(zorder_by=["id"], target_partitions=1)  # v4: physical only
    assert t.changes(2, 4).count() == 0


def test_cdf_update_feed_and_range_validation(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "u"))
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1))
    t.update("id = 1", {"v": "10.0"})  # v2

    got = _feed(t, 2, 2, keys=["id"])
    assert got == [(2, "update_postimage", 1, 10.0), (2, "update_preimage", 1, 1.0)]
    with pytest.raises(ValueError, match="outside table history"):
        t.changes(0)
    with pytest.raises(ValueError, match="outside table history"):
        t.changes(1, 99)


def test_cdf_restore_emits_reverting_changes(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "r"))
    t.overwrite(_df(spark, [(1, "a", 1.0)]).coalesce(1))  # v1
    t.append(_df(spark, [(2, "b", 2.0)]).coalesce(1))  # v2
    t.restore(1)  # v3: id=2 disappears again

    assert _feed(t, 3, 3) == [(3, "delete", 2, 2.0)]


def test_cdf_dv_delete_after_rename_serves_logical_name(spark, tmp_path):
    """The change feed of a merge-on-read DELETE recovers the deleted
    rows from the files the deletion vector names; after a rename they
    carry the logical name, like every other slice of the feed."""
    t = LakeTable(spark, str(tmp_path / "rdv"))
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, amt double").coalesce(1)
    )
    t.rename_column("amt", "revenue")
    v = t.delete("revenue > 15", mode="merge-on-read")
    feed = t.changes(v)
    assert "amt" not in feed.columns and "revenue" in feed.columns
    assert [(r.k, r.revenue, r._change_type) for r in feed.collect()] == [
        (2, 20.0, "delete")
    ]
