"""SparkSession factory with the engine's standard configuration.

Mirrors the reference's session setup (reference src/glue_etl.py:529-539:
AQE + partition coalescing + skew-join + CBO) minus the Glue/AWS parts.
Timezone is pinned to UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ecommerce-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Defaults target the driver harness: ``local[$SPARK_GRAFT_CPUS]`` with
    32 shuffle partitions.  At cluster scale the same builder applies —
    only master/shuffle-partitions change (AQE coalesces the rest).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Reference parity: src/glue_etl.py:535-539
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts testdata has shipped as parquet TIMESTAMP(NANOS), which
        # Spark 4 only reads with this legacy conf (tables.read_events_raw
        # also sets it lazily for vanilla caller sessions)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas-UDF path (LLM-pipeline operators)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )
        # The AQE coalescing floor and the scan open cost stay at Spark's
        # defaults (1m / 4m): session-wide 16k / 64k lost more than it won
        # registry-wide (OPTIMIZATION_r10.md), so the dedup/LSH-family
        # queries pin minPartitionSize=16k per query via
        # queries.TINY_STAGE_CONFS.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
