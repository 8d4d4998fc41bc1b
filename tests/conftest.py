import os
import sys

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
