import contextlib
import os
import sys
import time
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_lakehouse_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """Job counter: ``with spark_jobs(group) as jobs:`` runs the block
    under Spark job group ``group`` (unique per use); on exit
    ``jobs.ids`` lists the ids of the jobs the block launched, and
    ``jobs.before`` / ``jobs.after`` are the ids of one-task probe jobs
    run just before and after it in groups of their own. The status
    store is asynchronous: once it reports the after-probe, it has seen
    every job launched before it."""
    sc = spark.sparkContext

    def probe(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(group):
            assert time.time() < deadline, f"job of {group} never reported"
            time.sleep(0.05)
        return max(sc.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def jobs(group: str):
        got = types.SimpleNamespace()
        try:
            got.before = probe(f"{group}-before")
            sc.setJobGroup(group, group)
            yield got
            got.after = probe(f"{group}-after")
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        got.ids = sorted(sc.statusTracker().getJobIdsForGroup(group))

    return jobs


@pytest.fixture
def medallion_inputs(spark, tmp_path):
    """Writer of a hand-sized ``run_medallion`` input directory:
    ``write(orders_rows, lineitem_rows, part_rows=None)`` writes the three
    parquet tables under ``tmp_path / "in"`` (part defaults to six valid
    rows) and returns that directory."""
    d = str(tmp_path / "in")

    def write(orders_rows, lineitem_rows, part_rows=None):
        spark.createDataFrame(
            part_rows or [(i, f"part{i}", 10.0 * i) for i in range(1, 7)],
            "p_partkey int, p_name string, p_retailprice double",
        ).write.mode("overwrite").parquet(f"{d}/part.parquet")
        spark.createDataFrame(
            orders_rows,
            "o_orderkey int, o_custkey int, o_totalprice double, o_orderdate timestamp",
        ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            lineitem_rows,
            "l_orderkey int, l_linenumber int, l_partkey int, l_quantity double, "
            "l_discount double, l_extendedprice double",
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        return d

    return write
