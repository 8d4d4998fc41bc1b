"""Medallion pipeline into a temp LakeTable root: end to end on sf0.001
(slow tier), and on hand-written inputs of a few rows (default tier)."""

import datetime

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from ecommerce_lakehouse_spark.lake import LakeTable
from ecommerce_lakehouse_spark.pipelines import run_medallion
from ecommerce_lakehouse_spark.tables import load

TS = datetime.datetime(1995, 3, 1, 12, 0, 0)
ORDERS = [(i, 100 + i, 50.0 * i, TS) for i in range(1, 11)]
LINEITEM = [(1 + (i % 10), i, 1 + (i % 6), 1.0, 0.1, 99.0) for i in range(20)]
ROOTS = [
    f"{layer}/{t}"
    for layer in ("bronze", "rejected", "silver")
    for t in ("part", "orders", "lineitem")
] + ["gold/daily_sales"]


# end-to-end storage/streaming/property tier (README two-tier note):
# the fast path skips these with  -m "not slow"
@pytest.mark.slow
def test_medallion_end_to_end(spark, sf_dir, tmp_path):
    t = run_medallion(spark, sf_dir, str(tmp_path / "lake"))

    raw_orders = load(spark, sf_dir, "orders").count()
    silver = t["silver.orders"].read().count()
    rejected = t["rejected.orders"].read().count()
    # valid + rejected == raw (split is complementary); silver == valid
    # (orders pk already unique in testdata)
    assert silver + rejected == raw_orders
    assert t["metrics"]["orders"]["silver_rows"] == silver

    # silver derived columns exist (E:307-309)
    cols = set(t["silver.orders"].read().columns)
    assert {"day_of_week", "hour_of_day"} <= cols

    # silver products derived columns (docs/data_model.md:104,109)
    pcols = set(t["silver.part"].read().columns)
    assert {"is_active", "last_updated_timestamp"} <= pcols
    assert t["silver.part"].read().filter(~F.col("is_active")).count() == 0

    # bronze lineage: source_file is the true input file path
    # (F.input_file_name), not a constant stamp
    src_files = [
        r[0] for r in t["bronze.orders"].read().select("source_file").distinct().collect()
    ]
    assert src_files and all("orders.parquet" in s for s in src_files)

    # smoke phase ran: every clean view served LIMIT 5 rows
    # (stepfunctions/delta-lake.json:147-215)
    assert t["metrics"]["smoke"] == {
        "clean_orders": 5, "clean_order_items": 5, "clean_products": 5,
    }

    # rejected rows carry audit metadata (G:338-346)
    rej_cols = set(t["rejected.orders"].read().columns)
    assert {"validation_errors", "rejection_time", "source", "job_name"} <= rej_cols

    # lineitem RI rules: every silver lineitem joins an order
    sl = t["silver.lineitem"].read()
    so = t["silver.orders"].read()
    orphans = sl.join(so, sl.l_orderkey == so.o_orderkey, "left_anti").count()
    assert orphans == 0

    # gold mart populated and consistent with silver
    gold = t["gold.daily_sales"].read()
    assert gold.count() > 0
    total_orders_gold = gold.agg(F.sum("order_count")).collect()[0][0]
    distinct_orders_silver = (
        sl.join(so.select("o_orderkey"), sl.l_orderkey == F.col("o_orderkey"))
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert total_orders_gold == distinct_orders_silver


@pytest.mark.slow
def test_medallion_rerun_idempotent_silver(spark, sf_dir, tmp_path):
    root = str(tmp_path / "lake")
    t1 = run_medallion(spark, sf_dir, root)
    n1 = t1["silver.orders"].read().count()
    t2 = run_medallion(spark, sf_dir, root)
    n2 = t2["silver.orders"].read().count()
    # MERGE keyed on pk: re-processing the same batch is a no-op upsert
    assert n1 == n2


def test_medallion_tiny_input_counts(spark, tmp_path, medallion_inputs):
    """Every layer on a few hand-written rows: one rejected row per rule
    family and one duplicate pk. RI is checked against the SOURCE frames
    (what lets the flows run concurrently): a line item of an order or
    part that silver rejects still reaches silver."""
    part = [(i, f"part{i}", 10.0 * i) for i in range(1, 7)] + [(7, "bad", -1.0)]
    orders = ORDERS + [(11, None, 5.0, TS), (12, 112, -5.0, TS)]
    lineitem = LINEITEM + [
        LINEITEM[0],  # duplicate pk: deduped, not rejected
        (3, 900, 999, 1.0, 0.1, 99.0),  # unknown part
        (4, 901, 2, -1.0, 0.1, 99.0),  # negative quantity
        (99, 902, 1, 1.0, 0.1, 99.0),  # unknown order
        (12, 903, 7, 1.0, 0.1, 99.0),  # order and part both rejected upstream
    ]
    d = medallion_inputs(orders, lineitem, part_rows=part)
    t = run_medallion(spark, d, str(tmp_path / "lake"))

    expected = {"part": (6, 1), "orders": (10, 2), "lineitem": (21, 3)}
    for name, (silver, rejected) in expected.items():
        assert t[f"silver.{name}"].read().count() == silver, name
        assert t[f"rejected.{name}"].read().count() == rejected, name
        assert t["metrics"][name]["silver_rows"] == silver, name
    gold = t["gold.daily_sales"].read().collect()
    assert [(r.order_count, r.total_items) for r in gold] == [(10, 20.0)]
    assert t["metrics"]["smoke"] == {
        "clean_orders": 5, "clean_order_items": 5, "clean_products": 5,
    }


def test_medallion_jobs_inherit_caller_job_group(spark, tmp_path, medallion_inputs, spark_jobs):
    """Every job the concurrent flows launch carries the caller's job
    group, so ``cancelJobGroup`` reaches the whole run."""
    d = medallion_inputs(ORDERS, LINEITEM)
    with spark_jobs("medallion-test-run") as jobs:
        run_medallion(spark, d, str(tmp_path / "lake"))
    launched = set(range(jobs.before + 1, jobs.after))
    assert launched
    assert set(jobs.ids) == launched


def test_medallion_flow_failure_waits_for_siblings(spark, tmp_path, medallion_inputs):
    """A lineitem input without ``l_discount`` fails its flow (the Range
    rule cannot resolve). The error surfaces after the other flows have
    committed, gold never runs, and every table root is either absent or
    readable at its head version."""
    d = medallion_inputs(ORDERS, LINEITEM)
    spark.createDataFrame(
        [r[:4] + r[5:] for r in LINEITEM],
        "l_orderkey int, l_linenumber int, l_partkey int, l_quantity double, "
        "l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    root = str(tmp_path / "lake")
    with pytest.raises(AnalysisException, match="l_discount"):
        run_medallion(spark, d, root)

    tables = {r: LakeTable(spark, f"{root}/{r}") for r in ROOTS}
    for lt in tables.values():
        if lt.exists():
            lt.read(lt.current_version()).count()
    assert tables["silver/part"].read().count() == 6
    assert tables["silver/orders"].read().count() == 10
    assert tables["bronze/lineitem"].read().count() == len(LINEITEM)
    assert not tables["silver/lineitem"].exists()
    assert not tables["gold/daily_sales"].exists()
