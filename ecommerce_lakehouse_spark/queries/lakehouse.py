"""Lakehouse write-path semantics exposed as queries (SURVEY §2.2).

The storage side (versioned copy-on-write parquet) lives in lake/table.py
and is exercised by tests; the MERGE's *logical* semantics are exposed here
as a pure-DataFrame query so the oracle can verify them."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.lake.merge import merge_upsert
from ecommerce_lakehouse_spark.lake.mv import MaterializedAggregate
from ecommerce_lakehouse_spark.lake.table import LakeTable
from ecommerce_lakehouse_spark.money import dec2
from ecommerce_lakehouse_spark.queries import query, scratch_root
from ecommerce_lakehouse_spark.tables import load


@query(
    "merge_upsert_snapshot",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_totalprice,
         o_orderstatus, CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
), updates AS (
  SELECT o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS o_totalprice,
         'U' AS o_orderstatus, CAST(o_orderdate AS DATE) AS order_date
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
)
SELECT * FROM updates
UNION ALL
SELECT * FROM target t
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
""",
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 Delta-MERGE semantics (reference src/glue_etl.py:442-458) as
    DataFrame algebra: a 1998-99 "update batch" (repriced, restatused)
    merged into a pre-1999 snapshot — matched keys take the update row,
    unmatched target rows pass through, new keys insert."""
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderdate") < "1999-01-01 00:00:00").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("order_date"),
    )
    updates = o.filter(
        (F.col("o_orderdate") >= "1998-01-01 00:00:00")
        & (F.col("o_orderdate") < "2000-01-01 00:00:00")
    ).select(
        "o_orderkey",
        F.round(dec2("o_totalprice") * F.lit(1.05).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        F.to_date("o_orderdate").alias("order_date"),
    )
    return merge_upsert(target, updates, ["o_orderkey"])


@query(
    "cdc_change_feed",
    oracle="""
WITH base AS (
  -- deterministic quarter of orders: the feed's semantics are fully
  -- exercised; the three storage commits stay bench-cheap
  SELECT * FROM orders WHERE o_orderkey % 4 = 1
), target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
), updates AS (
  SELECT o_orderkey FROM base
  WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
), matched AS (
  SELECT t.o_orderkey FROM target t
  WHERE EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
), merged AS (
  SELECT o_orderkey FROM updates
  UNION ALL
  SELECT o_orderkey FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
), groups AS (
  SELECT 2 AS _commit_version, 'update_preimage' AS _change_type,
         count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
  FROM matched HAVING count(*) > 0
  UNION ALL
  SELECT 2, 'update_postimage', count(*), CAST(sum(o_orderkey) AS BIGINT)
  FROM matched HAVING count(*) > 0
  UNION ALL
  SELECT 2, 'insert', count(*), CAST(sum(o_orderkey) AS BIGINT)
  FROM updates u
  WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = u.o_orderkey)
  HAVING count(*) > 0
  UNION ALL
  SELECT 3, 'delete', count(*), CAST(sum(o_orderkey) AS BIGINT)
  FROM merged WHERE o_orderkey % 20 = 1 HAVING count(*) > 0
)
SELECT CAST(_commit_version AS INTEGER) AS _commit_version, _change_type, n, key_sum
FROM groups
""",
)
def cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over REAL storage commits (Delta's
    ``table_changes``, lake/cdf.py): a pre-1998 orders snapshot is
    committed to a LakeTable, a 1997H2-and-later batch MERGEs in
    (matched keys → update, new keys → insert), then a 5%-of-keys
    DELETE lands — and the query emits the feed's per-commit
    change-type histogram with key checksums. The oracle recomputes the
    same logical changes relationally, so any defect in the slice diff
    (touched-file pre/post, exceptAll cancellation of pass-through
    rows, key-based pre/postimage pairing) breaks counts or sums.

    Scale: the feed reads only what each commit touched (file-pruned
    here; partition-pruned on partitioned tables — see lake/cdf.py),
    never two full snapshots."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1)
    target = o.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    root = scratch_root("cdc", sf_dir)
    t = LakeTable(spark, os.path.join(root, "orders"))
    t.overwrite(target.coalesce(8))  # v1
    t.merge(updates, keys=["o_orderkey"])  # v2
    t.delete("o_orderkey % 20 = 1")  # v3
    return (
        t.changes(2, 3, keys=["o_orderkey"])
        .groupBy(
            F.col("_commit_version").cast("int").alias("_commit_version"),
            "_change_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )


@query(
    "cdc_apply_snapshot",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 5 = 2),
target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS o_totalprice
  FROM base WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT * FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)),
final AS (SELECT * FROM merged WHERE NOT (o_orderkey % 15 = 2))
SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM final GROUP BY 1
""",
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop closed over REAL storage commits: a source LakeTable
    takes an overwrite, a MERGE and a DELETE; its change feed
    (``changes()``) is APPLY-CHANGES'd into a fresh replica
    (:meth:`LakeTable.apply_changes` — latest sequence per key wins,
    preimages dropped, winning deletes remove); the query returns the
    REPLICA's per-status profile. The oracle recomputes the same DML
    relationally, so any defect in the feed (missed slice, wrong
    pre/postimage pairing) or in the apply (sequencing, delete handling,
    pruned-commit visibility) breaks counts or sums.

    Scale: the feed reads only touched slices per commit; the apply
    lands as one merge-shaped pruned commit per batch."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 2)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    root = scratch_root("cdcapply", sf_dir)
    src = LakeTable(spark, os.path.join(root, "src"))
    src.overwrite(target.coalesce(8))  # v1
    src.merge(updates, keys=["o_orderkey"])  # v2
    src.delete("o_orderkey % 15 = 2")  # v3
    dst = LakeTable(spark, os.path.join(root, "replica"))
    dst.apply_changes(
        src.changes(1, keys=["o_orderkey"]),
        keys=["o_orderkey"],
        sequence_col="_commit_version",
    )
    return dst.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.round(F.sum(dec2("o_totalprice")), 2).cast("double").alias("total_price"),
    )


@query(
    "convert_parquet_snapshot",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 9 = 4),
target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
updates AS (
  SELECT o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS o_totalprice,
         'U' AS o_orderstatus
  FROM base WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)),
final AS (SELECT * FROM merged WHERE NOT (o_orderkey % 15 = 2))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM final GROUP BY 1
""",
)
def convert_parquet_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA gated end-to-end: a plain hive-partitioned
    parquet directory (written by a vanilla ``df.write.partitionBy``)
    is promoted IN PLACE to a LakeTable
    (:meth:`LakeTable.convert_from_parquet` — zero copy, manifest
    references the existing files, footer stats collected at convert);
    then a partition-MOVING MERGE (updates re-status to 'U') and a
    DELETE run on top, and the query returns the per-status profile.
    The oracle recomputes the DML relationally, so a defect in the
    convert (missed file, broken hive-column recovery via basePath,
    stats that mis-prune) or in DML-over-converted-entries changes
    counts or sums.

    Scale: the convert is footer-only I/O (one read per file, no data
    movement) — exactly how Delta converts a petabyte directory without
    rewriting it; subsequent DML is partition-pruned as usual."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 4)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    root = scratch_root("convert", sf_dir)
    plain = os.path.join(root, "plain")
    target.coalesce(4).write.partitionBy("o_orderstatus").parquet(plain)
    t = LakeTable.convert_from_parquet(spark, plain, partition_by=["o_orderstatus"])
    t.merge(updates, keys=["o_orderkey"])
    t.delete("o_orderkey % 15 = 2")
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.round(F.sum(dec2("o_totalprice")), 2).cast("double").alias("total_price"),
    )


@query(
    "rename_column_snapshot",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 11 = 6),
target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS revenue
  FROM base WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'),
merged AS (
  SELECT o_orderkey, o_orderstatus, revenue FROM updates
  UNION ALL
  SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice AS revenue FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(revenue AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue_total
FROM merged GROUP BY 1
""",
)
def rename_column_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping gated end-to-end (Delta's zero-rewrite RENAME
    COLUMN): a snapshot lands in a LakeTable under ``o_totalprice``,
    the column is renamed to ``revenue`` as a metadata-only commit (the
    original files are never touched), and a MERGE then writes NEW
    files under the new name — so the final read spans both vintages,
    reassembled by the mapping's newest-first coalesce, and the merge's
    own touched-file discovery had to scan old-named files under the
    logical schema. The oracle recomputes the same DML relationally
    with the rename applied as a projection, so a mapping defect (alias
    not resolved, vintage values lost in the coalesce, key discovery
    against the wrong name) changes counts or sums.

    Scale: the rename costs one manifest write regardless of table
    size — the 100 TB schema-evolution story; the read-side mapping is
    pure projection on top of unchanged scans."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 6)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("revenue"),
    )
    root = scratch_root("rename", sf_dir)
    t = LakeTable(spark, os.path.join(root, "t"))
    t.overwrite(target.coalesce(8))  # v1: files under o_totalprice
    t.rename_column("o_totalprice", "revenue")  # v2: metadata only
    t.merge(updates, keys=["o_orderkey"])  # v3: new files under revenue
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.round(F.sum(dec2("revenue")), 2).cast("double").alias("revenue_total"),
    )


@query(
    "mv_incremental_refresh",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 6 = 1),
target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS o_totalprice
  FROM base WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)),
final AS (SELECT * FROM merged WHERE NOT (o_orderkey % 15 = 4))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM final GROUP BY 1
""",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over REAL storage
    commits (lake/mv.py — the reference recomputes its gold marts from
    full silver scans each run, src/glue_etl.py; this keeps one fresh
    from the change feed instead): a revenue-by-status mart is
    bootstrapped after the initial load, then two source commits — a
    MERGE that MOVES every matched row to a new group plus inserts, and
    a DELETE — are folded in as signed CDF deltas (+insert/postimage,
    −delete/preimage), each refresh one merge-shaped pruned commit. The
    query returns the maintained mart; the oracle recomputes the
    aggregate from the final relational state, so any defect in the
    delta signing, group migration (old group must shrink, new group
    grow), zero-count row removal, or cursor bookkeeping shows up as
    wrong counts or sums. Measures accumulate in DECIMAL, so the
    incremental path is bit-identical to recompute, not just close.

    Scale: each refresh reads only the commit's CDF slice and shuffles
    one (group, delta) frame — gold stays fresh without re-scanning
    silver."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 6 == 1)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    root = scratch_root("mv", sf_dir)
    src = LakeTable(spark, os.path.join(root, "src"))
    mart = LakeTable(spark, os.path.join(root, "mart"))
    mv = MaterializedAggregate(
        src, mart, ["o_orderstatus"], {"revenue": "o_totalprice"}
    )
    src.overwrite(target.coalesce(8))  # v1
    mv.refresh()  # bootstrap at v1
    src.merge(updates, keys=["o_orderkey"])  # v2: group-moving updates
    src.delete("o_orderkey % 15 = 4")  # v3 (4 mod 3 = 1 so the base
    # %6==1 filter intersects — the delete really removes rows; the old
    # %15==2 predicate was vacuous against %6==1, fixed r08)
    # ONE feed-ranged incremental refresh folds commits v2..v3 (refresh
    # slices changes(cursor+1, head)) — the fold is associative over the
    # slice, so per-commit refreshes land on the identical mart state
    # (tests/test_mv.py locks that equivalence); ranged catch-up is also
    # the operational shape (a refresh schedule lags the write path).
    mv.refresh()  # incremental: folds the v2 MERGE + v3 DELETE slice
    return mart.read().select(
        "o_orderstatus",
        "n_rows",
        F.col("revenue").cast("double").alias("revenue"),
    )


@query(
    "scd2_apply_snapshot",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderkey % 7 = 3),
target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)), 2) AS DOUBLE)
           AS o_totalprice
  FROM base WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)),
events AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         1 AS seq, 0 AS is_delete FROM target
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 2, 0 FROM updates
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 3, 1 FROM merged WHERE o_orderkey % 15 = 2),
iv AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(seq AS BIGINT) AS start_at,
         CAST(lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS BIGINT) AS end_at,
         is_delete
  FROM events)
SELECT o_orderkey, o_orderstatus, o_totalprice, start_at, end_at
FROM iv WHERE is_delete = 0
""",
)
def scd2_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 over REAL storage commits (DLT's ``APPLY CHANGES ...
    STORED AS SCD TYPE 2``): a source LakeTable takes an overwrite, a
    MERGE and a DELETE; its change feed is applied history-keeping into
    a dimension table (:meth:`LakeTable.apply_changes_scd2`) — every
    change opens a row stamped ``__start_at`` and closes its
    predecessor's ``__end_at``; deletes close without opening. The query
    returns the FULL history (one row per key per validity interval).
    The oracle rebuilds the same intervals relationally with ``lead()``
    over the per-key event sequence, so any defect in the feed or the
    interval construction (missed close, delete leaving a live row,
    wrong sequencing) changes rows.

    Scale: interval construction is a per-key window (bounded by commits
    per batch) + the merge's pruned commit — no global sort, no
    snapshot diff."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 3)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    root = scratch_root("scd2", sf_dir)
    src = LakeTable(spark, os.path.join(root, "src"))
    src.overwrite(target.coalesce(8))  # v1
    src.merge(updates, keys=["o_orderkey"])  # v2
    src.delete("o_orderkey % 15 = 2")  # v3
    dim = LakeTable(spark, os.path.join(root, "dim"))
    dim.apply_changes_scd2(
        src.changes(1, keys=["o_orderkey"]),
        keys=["o_orderkey"],
        sequence_col="_commit_version",
    )
    return dim.read().select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("__start_at").cast("long").alias("start_at"),
        F.col("__end_at").cast("long").alias("end_at"),
    )


def _scd2_asof_oracle() -> str:
    """The as-of oracle composes scd2_apply_snapshot's interval oracle as
    a subquery (lsh_recall_eval's composition pattern) and range-joins
    the fact rows against it."""
    from ecommerce_lakehouse_spark.queries import ORACLES

    return f"""
WITH dim AS ({ORACLES["scd2_apply_snapshot"]}),
fact AS (
  SELECT l_orderkey, l_linenumber,
         CAST(1 + l_linenumber % 3 AS BIGINT) AS probe_seq
  FROM lineitem WHERE l_orderkey % 7 = 3)
SELECT f.l_orderkey, f.l_linenumber, f.probe_seq,
       d.o_orderstatus, d.o_totalprice
FROM fact f LEFT JOIN dim d
  ON f.l_orderkey = d.o_orderkey
 AND d.start_at <= f.probe_seq
 AND (d.end_at IS NULL OR f.probe_seq < d.end_at)
"""


@query("scd2_asof_lookup", oracle=_scd2_asof_oracle())
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup — the dimensional-correctness query
    every warehouse user writes against a TYPE 2 dimension: build the
    SCD2 history exactly as scd2_apply_snapshot does (overwrite + MERGE
    + DELETE on a LakeTable, change feed applied history-keeping via
    :meth:`LakeTable.apply_changes_scd2`), then join FACT rows (the
    lineitems of those orders, each probing at a deterministic sequence
    point 1..3) to the dimension row valid AT that point:
    ``__start_at <= seq < coalesce(__end_at, inf)``.

    The LEFT join is deliberate — it exposes the two interval-edge
    classes a wrong SCD2 build silently gets right-ish: facts probing a
    key at a sequence BEFORE its first version (keys that enter only at
    the MERGE, probed at seq 1) and facts probing a DELETED key after
    its close (the delete closes without opening) must both surface as
    NULL attributes, and any missed close / overlapping interval would
    double-match a fact row and change the row count.

    Scale: this is an EQUI join on the dimension key with the validity
    range as a residual predicate — never a cartesian or a
    nested-loop: the plan is a broadcast (small dim) or shuffle hash
    join on o_orderkey, asserted in tests/test_plans.py. The SCD2 build
    itself is bounded by commits, not data volume (see
    scd2_apply_snapshot)."""
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 3)
    target = base.filter(F.col("o_orderdate") < "1998-01-01 00:00:00").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderdate") >= "1997-07-01 00:00:00").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.10).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    root = scratch_root("scd2pt", sf_dir)
    src = LakeTable(spark, os.path.join(root, "src"))
    src.overwrite(target.coalesce(8))  # v1
    src.merge(updates, keys=["o_orderkey"])  # v2
    src.delete("o_orderkey % 15 = 2")  # v3
    dim_t = LakeTable(spark, os.path.join(root, "dim"))
    dim_t.apply_changes_scd2(
        src.changes(1, keys=["o_orderkey"]),
        keys=["o_orderkey"],
        sequence_col="_commit_version",
    )
    dim = dim_t.read().select(
        F.col("o_orderkey").alias("d_orderkey"),
        "o_orderstatus",
        "o_totalprice",
        F.col("__start_at").cast("long").alias("start_at"),
        F.col("__end_at").cast("long").alias("end_at"),
    )
    fact = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 3)
        .select(
            "l_orderkey",
            "l_linenumber",
            (1 + F.col("l_linenumber") % 3).cast("long").alias("probe_seq"),
        )
    )
    return fact.join(
        F.broadcast(dim),
        (F.col("l_orderkey") == F.col("d_orderkey"))
        & (F.col("start_at") <= F.col("probe_seq"))
        & (F.col("end_at").isNull() | (F.col("probe_seq") < F.col("end_at"))),
        "left",
    ).select(
        "l_orderkey", "l_linenumber", "probe_seq", "o_orderstatus", "o_totalprice"
    )


@query(
    "zorder_skipping_snapshot",
    oracle="""
SELECT count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_totalprice >= 50000 AND o_totalprice <= 150000
  AND o_custkey >= 2000 AND o_custkey <= 8000
""",
)
def zorder_skipping_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER + data skipping, gated end-to-end: orders land in
    a LakeTable, get Morton-clustered on (o_totalprice, o_custkey), and
    the rectangle query runs through ``read_skipping`` — files whose
    footer min/max prove no overlap are never opened, the survivors get
    the exact row filter. The oracle is the plain relational filter, so
    any skipping defect (file wrongly pruned, bound off by one, stats
    missing after the rewrite) changes counts or sums.

    Scale: the whole point of Z-order — both rectangle dimensions prune
    files, not just a lexicographic leading column; row-level exactness
    rides the same parquet filter pushdown any scan gets."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = scratch_root("zorder", sf_dir)
    t = LakeTable(spark, os.path.join(root, "orders"))
    t.overwrite(o.repartition(8))
    t.optimize(zorder_by=["o_totalprice", "o_custkey"], target_partitions=8)
    df = t.read_skipping(
        {"o_totalprice": (50000, 150000), "o_custkey": (2000, 8000)}
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec2("o_totalprice")), 2).cast("double").alias("total_price"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query(
    "bloom_skipping_snapshot",
    oracle="""
WITH probes AS (
  SELECT max(o_orderkey) AS key FROM orders WHERE o_orderkey % 32 = 7
  UNION ALL
  SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 32 = 19
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
       o.o_totalprice AS total_price
FROM orders o JOIN probes p ON o.o_orderkey = p.key
ORDER BY o.o_orderkey
""",
)
def bloom_skipping_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter index point lookups, gated end-to-end: orders land in
    a LakeTable hash-repartitioned into 8 files — every file spans the
    whole o_orderkey range, so min/max footer stats prune NOTHING — then
    two point probes run through ``read_skipping``, where the per-file
    Bloom sidecars prove absence for ~7 of 8 files each. The oracle is
    the plain relational lookup, so a wrong bit position, a hash drift
    between writer and prober, or an over-eager prune changes the rows.

    Scale: this is the uuid/hashed-key case data skipping exists for —
    min/max helps range-clustered columns (see zorder_skipping_snapshot),
    blooms cover high-entropy equality at m/8 bytes per file, with
    parquet row-group blooms inside surviving files. Probe keys are
    derived by deterministic rules (max/min over a residue class), each
    a 1-row control-plane scalar, never a data collect."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k1 = o.filter(F.col("o_orderkey") % 32 == 7).agg(
        F.max("o_orderkey")
    ).first()[0]
    k2 = o.filter(F.col("o_orderkey") % 32 == 19).agg(
        F.min("o_orderkey")
    ).first()[0]
    root = scratch_root("bloom", sf_dir)
    t = LakeTable(spark, os.path.join(root, "orders"))
    t.overwrite(o.limit(0))  # v1: establish the table, then index it
    t.create_bloom_index("o_orderkey", fpp=0.001, max_keys_per_file=200_000)
    t.overwrite(o.repartition(8))  # blooms built for all 8 files
    hits = [
        t.read_skipping({"o_orderkey": (k, k)})
        for k in (k1, k2)
        if k is not None
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out.unionByName(h)
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
    ).orderBy("o_orderkey")


@query(
    "identity_snapshot",
    oracle="""
WITH pre AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 3 = 0),
post AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 3 = 1),
ins AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 3 = 2)
SELECT CAST(pre.n + post.n + ins.n AS BIGINT) AS n_total,
       CAST(pre.n AS BIGINT) AS pre_identity_nulls,
       CAST(post.n + ins.n AS BIGINT) AS n_with_id,
       CAST(post.n + ins.n AS BIGINT) AS n_distinct_ids,
       TRUE AS min_id_ok,
       CAST(0 AS BIGINT) AS merge_reassigned,
       TRUE AS watermark_ok
FROM pre, post, ins
""",
)
def identity_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity columns (GENERATED BY DEFAULT AS IDENTITY), gated
    end-to-end: a LakeTable of one customer slice gets an identity
    column declared, a second slice appended (ids allocated), and a
    MERGE that updates half the appended rows and inserts a third slice
    — then the snapshot's identity INVARIANTS are checked against
    relationally-derived expectations: pre-identity rows stay NULL,
    every post-identity row has an id, ids are UNIQUE (distinct count
    equals row count — the invariant a duplicate allocation breaks),
    all at-or-above the declared start, matched rows KEPT their ids
    across the merge (a reallocation shows up as merge_reassigned > 0),
    and the stored high-watermark strictly exceeds every allocated id.
    The id VALUES are engine-chosen (Delta documents identity gaps), so
    the oracle checks the algebra of the guarantee, not the literals.

    Scale: allocation is map-side (per-partition monotonic ranges above
    the watermark — zero extra jobs, no shuffle, no coordination); the
    watermark advance reads parquet FOOTERS of the files just written,
    and concurrent allocators conflict-and-rebase rather than mint
    duplicates."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    root = scratch_root("ident", sf_dir)
    t = LakeTable(spark, os.path.join(root, "cust"))
    t.overwrite(c.filter(F.col("c_custkey") % 3 == 0))
    t.set_identity("row_id", start=1000)
    t.append(c.filter(F.col("c_custkey") % 3 == 1))
    before = t.read().filter(F.col("row_id").isNotNull()).select(
        "c_custkey", F.col("row_id").alias("row_id_before")
    )
    updates = c.filter(F.col("c_custkey") % 3 == 1).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1
    )
    inserts = c.filter(F.col("c_custkey") % 3 == 2)
    t.merge(updates.unionByName(inserts), keys=["c_custkey"])
    snap = t.read()
    hwm = t.properties()["identity"]["high_watermark"]
    reassigned = (
        snap.join(before, on="c_custkey")
        .filter(F.col("row_id") != F.col("row_id_before"))
        .count()
    )
    return snap.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("row_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("pre_identity_nulls"),
        F.count("row_id").alias("n_with_id"),
        F.countDistinct("row_id").alias("n_distinct_ids"),
        (F.min("row_id") >= F.lit(1000)).alias("min_id_ok"),
        F.lit(reassigned).cast("long").alias("merge_reassigned"),
        (F.max("row_id") < F.lit(hwm)).alias("watermark_ok"),
    )


@query(
    "restore_table_snapshot",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 5),
final AS (SELECT * FROM base WHERE NOT (o_orderkey % 7 = 3))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price,
       CAST(5 AS BIGINT) AS n_versions
FROM final GROUP BY 1
""",
)
def restore_table_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION gated end-to-end (Delta RESTORE): a LakeTable
    takes an overwrite (v1), a DELETE (v2) and a partition-crossing
    MERGE (v3); :meth:`LakeTable.restore` rolls it back to v1 as a
    metadata-only commit (v4 — zero bytes rewritten, history intact),
    and a post-restore DELETE (v5) proves the restored table is live
    for DML. The query returns the final per-status profile plus the
    commit count; the oracle recomputes base-minus-final-delete — so a
    restore that leaks v2/v3 state (or silently rewrites/erases
    history) changes counts, sums, or the version column.

    Scale: restore is O(1) I/O at any table size — the new manifest
    re-references the target version's files; the vacuum-horizon guard
    (restore refuses to advertise reclaimed bytes) is what makes that
    safe. Reference: /root/reference/docs/data_model.md's versioned
    lake layers; Delta RESTORE semantics."""
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 5)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    root = scratch_root("restore", sf_dir)
    t = LakeTable(spark, root)
    t.overwrite(base)                                   # v1
    t.delete("o_orderkey % 4 = 1")                      # v2
    updates = base.filter(F.col("o_orderkey") % 5 == 2).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(dec2("o_totalprice") * F.lit(1.20).cast("decimal(4,2)"), 2)
        .cast("double")
        .alias("o_totalprice"),
    )
    t.merge(updates, keys=["o_orderkey"])               # v3
    t.restore(1)                                        # v4: back to base
    t.delete("o_orderkey % 7 = 3")                      # v5
    n_versions = t.current_version()
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.round(F.sum(dec2("o_totalprice")), 2).cast("double").alias("total_price"),
        F.lit(n_versions).cast("long").alias("n_versions"),
    )
