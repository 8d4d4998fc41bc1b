"""Physical-plan guardrails (the 100 TB design checks, SURVEY §4):
no accidental cartesian products anywhere in the registry, filters reach
the parquet scans, dim joins broadcast, projections prune the read schema.
These are executed-plan assertions — regressions in join strategy or
pushdown fail CI, not just the benchmark."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from explain_audit import audit, plan_text  # noqa: E402

from ecommerce_lakehouse_spark.queries import REGISTRY

# One audit per query for the three registry-wide guards (r10,
# VERDICT r09 #4): each guard otherwise re-BUILDS the query (pipeline
# queries run eager stage work at build time) and re-explains it —
# 3 x 273 builds for 273 distinct plans. The spark/sf_dir fixtures are
# session-scoped and the audit dict is a pure function of the plan, so
# a module cache is sound and cuts several minutes from the default
# tier without losing any assertion.
_DF_CACHE: dict = {}
_AUDIT_CACHE: dict = {}


def _built(spark, sf_dir, name):
    if name not in _DF_CACHE:
        _DF_CACHE[name] = REGISTRY[name](spark, sf_dir)
    return _DF_CACHE[name]


def _cached_audit(spark, sf_dir, name):
    if name not in _AUDIT_CACHE:
        _AUDIT_CACHE[name] = audit(_built(spark, sf_dir, name))
    return _AUDIT_CACHE[name]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product(spark, sf_dir, name):
    """A CartesianProduct in any plan is a scale bug: O(n*m) rows with no
    key. (BroadcastNestedLoopJoin is allowed where one side is a bounded
    broadcast query set, e.g. brute-force kNN's != condition.)"""
    info = _cached_audit(spark, sf_dir, name)
    assert not info["cartesian"], f"{name}: cartesian product in plan: {info['joins']}"


@pytest.mark.parametrize(
    "name", ["tpch_q6_forecast_revenue", "between_dates_filter", "tpch_q1_pricing_summary"]
)
def test_filters_push_to_scan(spark, sf_dir, name):
    info = audit(REGISTRY[name](spark, sf_dir))
    assert info["pushed_filters"], f"{name}: no PushedFilters on any scan"


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q5_local_supplier_volume",
        "tpch_q10_returned_items",
        "tpch_q14_promo_revenue",
        "tpch_q19_disjunctive_revenue",
        "product_performance",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    info = audit(REGISTRY[name](spark, sf_dir))
    assert "BroadcastHashJoin" in info["joins"], f"{name}: dim join not broadcast: {info['joins']}"


def test_q6_prunes_columns(spark, sf_dir):
    """The q6 scan must read only the 4 referenced lineitem columns (of
    11) — column pruning reaching the reader is what keeps a 2-column
    projection from dragging 100 TB through I/O."""
    info = audit(REGISTRY["tpch_q6_forecast_revenue"](spark, sf_dir))
    assert info["read_widths"] and max(info["read_widths"]) <= 4, info["read_widths"]


def test_q1_whole_stage_codegen(spark, sf_dir):
    """The scan→filter→partial-agg pipeline of q1 must be inside one
    WholeStageCodegen span (JVM-compiled, no interpreted gaps)."""
    text = plan_text(REGISTRY["tpch_q1_pricing_summary"](spark, sf_dir), mode="codegen")
    assert "WholeStageCodegen" in text


def test_partition_pruning_on_lake_table(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter on
    the scan (directory-level pruning — at 100 TB this is the difference
    between reading one day and reading the lake)."""
    import pyspark.sql.functions as F

    from ecommerce_lakehouse_spark.lake import LakeTable
    from ecommerce_lakehouse_spark.tables import load

    orders = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    t = LakeTable(spark, str(tmp_path / "orders_part"))
    t.overwrite(orders, partition_by=["order_year"])
    df = t.read().filter(F.col("order_year") == 1996)
    text = plan_text(df)
    assert "PartitionFilters" in text
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "order_year" in m.group(1), text[:800]


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """approx_count_distinct is the sanctioned 100 TB substitute for exact
    countDistinct in profiling paths (SURVEY §2.5 note): HLL++ sketch,
    map-side mergeable, no Expand. Error must stay inside the configured
    rsd at our scales."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06


@pytest.mark.parametrize(
    "name", ["part_cooccurrence", "key_skew_profile", "top_k_global"]
)
def test_topk_uses_take_ordered(spark, sf_dir, name):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heaps + driver merge of k-row heads), never a full global sort."""
    text = plan_text(REGISTRY[name](spark, sf_dir))
    assert "TakeOrderedAndProject" in text, f"{name}: top-k not TakeOrdered"


@pytest.mark.parametrize("name", ["status_mix_by_nation", "revenue_share_by_priority"])
def test_small_side_broadcasts(spark, sf_dir, name):
    """Dimension / 1-row-total joins must broadcast — the fact side never
    shuffles for the join."""
    info = audit(REGISTRY[name](spark, sf_dir))
    assert any("Broadcast" in j for j in info["joins"]), (
        f"{name}: expected broadcast join: {info['joins']}"
    )


@pytest.mark.parametrize(
    "name",
    ["cumulative_new_customers", "monthly_revenue_growth", "rolling_7day_revenue"],
)
def test_preagg_before_ordered_window(spark, sf_dir, name):
    """Time-series queries must collapse to per-period rows BEFORE their
    ordered window: the plan's window operator may only see aggregated
    input (HashAggregate upstream of Window), never raw fact rows."""
    text = plan_text(REGISTRY[name](spark, sf_dir))
    assert "Window" in text, f"{name}: expected a window operator"
    win_pos = text.index("Window")
    assert "HashAggregate" in text[win_pos:], (
        f"{name}: no aggregate upstream of the ordered window"
    )


def test_merge_superseded_files_leave_the_scan(spark, tmp_path):
    """After a MERGE on a partitioned table, reading the table must not
    list the file the merge rewrote: the superseded file of the PRIOR
    data dir leaves the manifest's live files, so it is skipped at
    planning, not scanned-and-dropped. The prior dir's other files are
    carried unchanged."""
    import pyspark.sql.functions as F

    from ecommerce_lakehouse_spark.lake import LakeTable

    # one file per partition
    df = spark.createDataFrame(
        [(i, f"v{i}", f"p{i % 4}") for i in range(40)], "k int, v string, part string"
    ).coalesce(1)
    t = LakeTable(spark, str(tmp_path / "pruned"))
    t.overwrite(df, partition_by=["part"])
    v1_files = set(t.read().inputFiles())
    t.merge(
        spark.createDataFrame([(0, "NEW", "p0")], "k int, v string, part string"),
        keys=["k"],
    )

    superseded = {f for f in v1_files if "/part=p0/" in f}
    assert len(superseded) == 1 and len(v1_files) == 4, v1_files
    head_files = set(t.read().inputFiles())
    assert not head_files & superseded, head_files
    assert v1_files - superseded <= head_files
    # correctness of the carried files plus the rewrite
    got = {(r.k, r.v) for r in t.read().collect()}
    expect = {(i, f"v{i}") for i in range(1, 40)} | {(0, "NEW")}
    assert got == expect
    # time travel still reads the whole v1 dir
    old_dir_df = t.read(version=1).filter(F.col("part") != "p0")
    assert old_dir_df.count() == 30


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_row_at_a_time_python(spark, sf_dir, name):
    """SURVEY §2.9 UDF policy, enforced mechanically over every registered
    query's physical plan: zero BatchEvalPython (row-at-a-time Python
    UDFs) anywhere. Python may appear only as Arrow-vectorized operators
    (MapInPandas / FlatMapGroupsInPandas) at the deliberate multimodal
    boundaries."""
    text = plan_text(_built(spark, sf_dir, name))
    assert "BatchEvalPython" not in text, f"{name} uses a row-at-a-time Python UDF"
    assert "PythonUDF" not in text or "ArrowEvalPython" in text or "MapInPandas" in text, name


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_global_window(spark, sf_dir, name):
    """No query may contain a `WindowExec: No Partition Defined` over
    raw-table-cardinality input — a single task sorting the whole input,
    the one remaining scale-killer family VERDICT r03 flagged. Global
    windows are allowed only over frames bounded by construction (an
    upstream Aggregate / limit / literal relation), e.g. per-day series.
    The former offenders (value_quantiles_exact, customer_spend_deciles,
    tpch q11/q15) now use bucketed two-pass ranks / one-row broadcast
    scalars (operators/scale.py:bucketed_global_row_number)."""
    from explain_audit import unbounded_global_windows

    offenders = unbounded_global_windows(_built(spark, sf_dir, name))
    assert not offenders, f"{name}: unpartitioned window over unbounded input: {offenders}"


def test_bucketed_global_row_number_matches_window(spark):
    """The distributed two-pass rank must agree exactly with the
    single-partition window form it replaces — including ties on the
    sort value (same bucket, tiebreak ordered) and the degenerate
    all-equal input (w=0 collapses to one bucket)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ecommerce_lakehouse_spark.operators.scale import bucketed_global_row_number

    rows = [(i, float((i * 37) % 11)) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, v double")
    got = bucketed_global_row_number(
        df, sort_value=F.col("v"), order_cols=[F.asc("v"), F.asc("id")], buckets=8
    )
    expect = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id")))
    )
    assert {(r.id, r.rn) for r in got.collect()} == {
        (r.id, r.rn) for r in expect.collect()
    }
    assert got.select("n").distinct().collect()[0].n == 500
    # degenerate: every sort value identical -> single bucket, still exact
    const = spark.createDataFrame([(i, 1.0) for i in range(20)], "id int, v double")
    gc = bucketed_global_row_number(
        const, sort_value=F.col("v"), order_cols=[F.asc("v"), F.asc("id")], buckets=8
    )
    assert {(r.id, r.rn) for r in gc.collect()} == {(i, i + 1) for i in range(20)}


def test_approx_percentile_accuracy(spark, sf_dir):
    """approx_percentile is the sanctioned 100 TB substitute for
    value_quantiles_exact's exact path (its docstring names this test):
    a mergeable sketch, no global rank at all. Error must stay within
    the configured accuracy at our scales."""
    import pyspark.sql.functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = e.agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("exact"),
        F.expr("approx_percentile(value, array(0.25, 0.5, 0.75), 10000)").alias("approx"),
    ).first()
    spread = max(row["exact"]) - min(row["exact"]) or 1.0
    for ex, ap in zip(row["exact"], row["approx"]):
        assert abs(ap - ex) / spread < 0.05, (row["exact"], row["approx"])


def test_every_query_has_an_oracle():
    """The correctness gate is only as wide as its oracle coverage: every
    registered query must ship DuckDB oracle SQL (no silent rows-only
    fallbacks)."""
    from ecommerce_lakehouse_spark.queries import ORACLES

    missing = sorted(set(REGISTRY) - set(ORACLES))
    assert not missing, f"queries without oracles: {missing}"


def test_bucketed_global_row_number_null_sort_values(spark):
    """NULL sort values must rank FIRST (Spark asc-nulls-first), not be
    silently dropped by the bucket equi-joins."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ecommerce_lakehouse_spark.operators.scale import bucketed_global_row_number

    rows = [(0, None), (1, 5.0), (2, None), (3, 1.0)]
    df = spark.createDataFrame(rows, "id int, v double")
    got = bucketed_global_row_number(
        df, sort_value=F.col("v"), order_cols=[F.asc("v"), F.asc("id")], buckets=4
    )
    exp = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id")))
    )
    assert {(r.id, r.rn) for r in got.collect()} == {
        (r.id, r.rn) for r in exp.collect()
    } and got.count() == 4


def test_query_layer_never_materializes_to_driver():
    """Source-level guard: no registered query may collect(), toPandas()
    or toLocalIterator() — a query that iterates driver-side isn't
    distributed. Control-plane collects live in lake/ and pipelines/
    (bounded by partition/file counts), never in queries/."""
    import os

    import ecommerce_lakehouse_spark.queries as qpkg

    qdir = os.path.dirname(qpkg.__file__)
    banned = (".collect(", ".toPandas(", ".toLocalIterator(")
    hits = []
    for name in sorted(os.listdir(qdir)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(qdir, name)) as f:
            for i, line in enumerate(f, 1):
                code = line.split("#", 1)[0]
                if any(b in code for b in banned):
                    hits.append(f"{name}:{i}: {line.strip()}")
    assert not hits, "driver materialization in the query layer:\n" + "\n".join(hits)


def test_scd2_asof_interval_join_is_equi(spark, sf_dir):
    """The SCD2 point-in-time lookup's validity-interval join must plan
    as an EQUI join on the dimension key (broadcast, range predicate as
    residual) — a BroadcastNestedLoopJoin or cartesian here would scan
    dim_rows x fact_rows at 100 TB."""
    info = audit(REGISTRY["scd2_asof_lookup"](spark, sf_dir))
    assert "BroadcastHashJoin" in info["joins"], info["joins"]
    assert "BroadcastNestedLoopJoin" not in info["joins"], info["joins"]
    assert not info["cartesian"], info["joins"]
