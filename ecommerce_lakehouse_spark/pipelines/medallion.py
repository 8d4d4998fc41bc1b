"""Medallion (bronze→silver→gold) pipeline (reference src/glue_etl.py:525-689
``main()`` + docs/etl_processes.md bronze/silver/gold ETLs), re-hosted on the
driver's star schema with LakeTable storage.

Per-dataset flow (reference process_dataset G:286-431): scan → metadata
columns → cast → validate → split valid/rejected → quarantine append →
dedup by pk → MERGE into silver. Gold marts recompute from silver.

The pipeline runs as the DAG its data dependencies allow (the reference
orchestrates it the same way: stepfunctions/delta-lake.json:147-215 fans
the smoke queries out in a ``Parallel`` state). At small inputs every
Spark job is one task and per-job planning and scheduling dominate, so
overlapping independent jobs keeps the executor cores busy.

Scale notes: row counts come from Observation (df.observe) piggybacked on
the write action — the reference's cache()+count() materialization
anti-pattern (G:291-292 etc.) costs an extra job per dataset at 100 TB
(SURVEY §7.5 mandates observe()). Validation is one expression pass; RI
joins broadcast their pruned key sets.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any, Callable

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession

from ecommerce_lakehouse_spark.lake import LakeTable
from ecommerce_lakehouse_spark.operators import dedup_by_key
from ecommerce_lakehouse_spark.quality import (
    NotNull,
    Range,
    RefIntegrity,
    split_valid_rejected,
    validate,
)
from ecommerce_lakehouse_spark.quality.alerts import (
    ALERT_SCHEMA,
    AlertPolicy,
    QualityAlertError,
    blocking,
    evaluate_alerts,
    metric_discrepancy_alert,
    processing_delay_alert,
)
from ecommerce_lakehouse_spark.tables import load


def _concurrently(spark: SparkSession, thunks: list[Callable[[], Any]]) -> list:
    """Run ``thunks`` on a pool of ``len(thunks)`` threads and return
    their results in order.

    Each thread starts with the caller's Spark job group, description
    and tags (``inheritable_thread_target(spark)`` snapshots them here,
    on the calling thread), so ``cancelJobGroup`` reaches every branch.
    The first failure, in thunk order, is re-raised only after every
    thunk has finished: no sibling's commit is abandoned half-way."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]


def _bronze(df: DataFrame, source: str) -> DataFrame:
    """Bronze metadata columns (reference docs/etl_processes.md:74,85:
    source_file + ingestion ts). source_file comes from
    ``F.input_file_name()`` so multi-file ingests keep true per-file
    lineage; the caller-supplied ``source`` is the fallback for inputs
    that aren't file scans (e.g. createDataFrame in tests)."""
    return df.withColumn(
        "source_file",
        F.when(F.input_file_name() != "", F.input_file_name()).otherwise(F.lit(source)),
    ).withColumn("ingestion_timestamp", F.current_timestamp())


def _record_alerts(spark, root: str, alerts: list[dict], tables: dict) -> None:
    """Append alert rows to the ``quality_alerts`` LakeTable (the
    reference's Email/SNS channel re-expressed as a tailable table)."""
    keys = [f.split()[0] for f in ALERT_SCHEMA.split(", ")]
    df = spark.createDataFrame(
        [tuple(a[k] for k in keys) for a in alerts], ALERT_SCHEMA
    )
    at = LakeTable(spark, os.path.join(root, "quality_alerts"))
    at.append(df)
    tables["quality_alerts"] = at


def _flow(
    spark: SparkSession,
    root: str,
    src: str,
    name: str,
    df: DataFrame,
    pk: list[str],
    rules: list,
    alert_policy: AlertPolicy | None,
) -> tuple[dict, int | None, list[dict]]:
    """One dataset's bronze → silver flow, on its own thread. Returns
    ({layer.table: LakeTable}, silver rows, alerts); silver rows is None
    when a blocking alert kept the batch out of quarantine and silver."""
    t0 = time.time()
    sc = spark.sparkContext

    # ---- bronze (K3 append semantics; overwrite for idempotent runs)
    sc.setJobDescription(f"medallion bronze.{name}")
    bt = LakeTable(spark, os.path.join(root, "bronze", name))
    bt.overwrite(_bronze(df, src))
    tables = {f"bronze.{name}": bt}

    # ---- silver: validate → split → (quarantine ‖ dedup → merge) (K5)
    sc.setJobDescription(f"medallion silver.{name}")
    validated = validate(bt.read().drop("source_file", "ingestion_timestamp"), rules)
    alerts: list[dict] = []
    if alert_policy is not None:
        alerts = evaluate_alerts(validated, rules, alert_policy, name)
        if blocking(alerts, alert_policy):
            return tables, None, alerts
    valid, rejected = split_valid_rejected(validated, source=src, job_name="medallion")

    if name == "orders":
        # silver derived columns (E:307-309: day_of_week / hour_of_day)
        valid = valid.withColumn("day_of_week", F.dayofweek("o_orderdate")).withColumn(
            "hour_of_day", F.hour("o_orderdate")
        )
    if name == "part":
        # silver.products derived columns (reference docs/data_model.md:
        # 104,109 + docs/etl_processes.md:253-254: is_active flag +
        # last_updated_timestamp change-tracking stamp)
        valid = valid.withColumn("is_active", F.lit(True)).withColumn(
            "last_updated_timestamp", F.current_timestamp()
        )
    obs = Observation(f"{name}_valid")
    deduped = dedup_by_key(valid, pk, [F.asc(c) for c in pk]).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    qt = LakeTable(spark, os.path.join(root, "rejected", name))
    st = LakeTable(spark, os.path.join(root, "silver", name))

    def quarantine() -> None:
        sc.setJobDescription(f"medallion rejected.{name}")
        qt.append(rejected)

    # both writes only read bronze, so neither waits for the other
    _concurrently(spark, [quarantine, partial(st.merge, deduped, keys=pk)])
    tables[f"rejected.{name}"] = qt
    tables[f"silver.{name}"] = st
    if alert_policy is not None:
        alerts.extend(processing_delay_alert(time.time() - t0, alert_policy, name))
    return tables, obs.get["rows"], alerts


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    alert_policy: AlertPolicy | None = None,
) -> dict:
    """Run the full pipeline; returns {layer.table: LakeTable} plus
    observed row metrics under key "metrics".

    The steps run as a DAG, each fan-out on a thread pool whose size is
    the number of its branches (3 scans, 3 flows, 2 writes per flow, 3
    smoke queries — fixed by the DAG, not configurable):

    1. the ``part``, ``orders`` and ``lineitem`` scans start together;
    2. the three dataset flows run together. Each is bronze overwrite →
       validate → (quarantine append ‖ silver merge); the two writes run
       together because both only read bronze. The flows are independent
       because lineitem's ``RefIntegrity`` rules read the *source*
       ``orders``/``part`` frames, not silver;
    3. gold is built once every silver table is committed;
    4. the smoke views are registered one after another, then their
       three queries run together.

    Every branch inherits the caller's Spark job group, description and
    tags, so ``cancelJobGroup`` stops the whole run; each flow labels its
    jobs ``medallion <layer>.<table>`` with ``setJobDescription``.

    Failure: when a step fails, its siblings still run to completion and
    the first error (in part, orders, lineitem order) is then raised;
    gold, smoke and alert recording do not run. Each table root is left either absent or
    readable at its head version — no commit is abandoned half-way.

    ``alert_policy`` (OFF by default — metric-only runs pay no extra
    jobs): evaluate the reference's quality alert thresholds
    (docs/data_quality.md:414-421) against each dataset's validation
    results in one extra aggregate per dataset; every fired alert is
    recorded once in the ``quality_alerts`` LakeTable. A blocking-severity
    alert (default: critical = schema-level rejection rate) keeps its own
    batch out of quarantine and silver; once every flow has finished, all
    alerts are recorded and :class:`QualityAlertError` is raised before
    gold. The other datasets' flows complete and commit their silver
    tables (run one after another, the flows after the blocked one would
    never have started)."""
    tables: dict = {}
    metrics: dict[str, dict] = {}
    all_alerts: list[dict] = []

    part, orders, lineitem = _concurrently(
        spark, [partial(load, spark, sf_dir, n) for n in ("part", "orders", "lineitem")]
    )

    datasets = {
        # (df, pk, rules)
        "part": (
            part,
            ["p_partkey"],
            [NotNull("p_partkey"), Range("p_retailprice", min=0)],
        ),
        "orders": (
            orders,
            ["o_orderkey"],
            [
                NotNull("o_orderkey"),
                NotNull("o_custkey"),
                Range("o_totalprice", min=0),
            ],
        ),
        "lineitem": (
            lineitem,
            ["l_orderkey", "l_linenumber"],
            [
                NotNull("l_orderkey"),
                Range("l_quantity", min=0),
                Range("l_discount", min=0, max=1),
                RefIntegrity("l_orderkey", orders, "o_orderkey", broadcast=False),
                RefIntegrity("l_partkey", part, "p_partkey"),
            ],
        ),
    }

    flows = _concurrently(
        spark,
        [
            partial(
                _flow, spark, root, os.path.join(sf_dir, f"{name}.parquet"),
                name, df, pk, rules, alert_policy,
            )
            for name, (df, pk, rules) in datasets.items()
        ],
    )
    for name, (flow_tables, silver_rows, alerts) in zip(datasets, flows):
        tables.update(flow_tables)
        all_alerts.extend(alerts)
        if silver_rows is not None:
            metrics[name] = {"silver_rows": silver_rows}
    blk = blocking(all_alerts, alert_policy) if alert_policy is not None else []
    if blk:
        _record_alerts(spark, root, all_alerts, tables)
        raise QualityAlertError(blk)

    # ---- gold marts from silver (E:420-450 daily_sales shape)
    so = tables["silver.orders"].read()
    sl = tables["silver.lineitem"].read()
    daily = (
        sl.join(so.select("o_orderkey", "o_orderdate"), sl.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.countDistinct("l_orderkey").alias("order_count"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_sales"),
            F.sum("l_quantity").alias("total_items"),
        )
        .withColumn("last_updated", F.current_timestamp())
    )
    gt = LakeTable(spark, os.path.join(root, "gold", "daily_sales"))
    gt.overwrite(daily)
    tables["gold.daily_sales"] = gt
    if alert_policy is not None:
        # reference "Metric Discrepancy": recompute the headline metric
        # from silver and compare against the WRITTEN gold table (re-read)
        # — catches storage-layer drift in-flight checks can't see
        expected = (
            sl.join(so.select("o_orderkey"), sl.l_orderkey == F.col("o_orderkey"))
            .agg(
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("s")
            )
            .first()["s"]
            or 0.0
        )
        actual = (
            gt.read().agg(F.sum("total_sales").alias("s")).first()["s"] or 0.0
        )
        all_alerts.extend(
            metric_discrepancy_alert(
                expected, actual, alert_policy, "gold.daily_sales", "total_sales"
            )
        )

    # ---- post-pipeline SQL smoke phase (reference stepfunctions/
    # delta-lake.json:147-215: three parallel Athena `SELECT * ... LIMIT 5`
    # checks over the clean tables; here spark.sql over catalog views).
    # A table that registered but can't serve 5 rows fails the run — the
    # same contract as the Step Function's Catch → HandleValidationFailure.
    metrics["smoke"] = run_smoke_queries(
        spark,
        {
            "clean_orders": tables["silver.orders"],
            "clean_order_items": tables["silver.lineitem"],
            "clean_products": tables["silver.part"],
        },
    )

    if all_alerts:
        # non-blocking alerts (high/medium) are recorded, never fatal
        _record_alerts(spark, root, all_alerts, tables)
    tables["metrics"] = metrics
    return tables


def run_smoke_queries(spark: SparkSession, views: dict[str, LakeTable]) -> dict[str, int]:
    """Register each LakeTable under its view name and run
    ``SELECT * FROM <view> LIMIT 5``, returning rows served per view.
    Views are registered one after another, then the queries run
    concurrently (the reference's ``Parallel`` state). Raises if any
    smoke query errors (propagated) — mirroring the reference's
    validation-failure branch."""
    for view, lt in views.items():
        lt.register(view)

    def smoke(view: str) -> int:
        spark.sparkContext.setJobDescription(f"medallion smoke.{view}")
        return len(spark.sql(f"SELECT * FROM {view} LIMIT 5").collect())

    return dict(zip(views, _concurrently(spark, [partial(smoke, v) for v in views])))
