"""Scale-pattern operators: skew-salted joins and bucketed co-located
joins (SURVEY §7.5 100 TB design; reference relies on AQE skew handling,
src/glue_etl.py:537 — these are the explicit tools for when runtime
re-planning isn't enough).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: a hot key that exceeds what AQE's
    skew-split can rebalance (one key > one partition's worth) gets spread
    across ``n_salts`` reducers.

    The big (left) side gets a deterministic per-row salt; the small
    (right) side is replicated once per salt value; the join key becomes
    (key, salt) so the hot key's rows land on n_salts partitions instead
    of one. Costs: right side inflates ×n_salts — keep it the dimension
    side. Results are identical to the unsalted join (asserted in tests).

    Only left-preserving join types are allowed: with ``right`` or
    ``full_outer`` every unmatched RIGHT row would surface once per salt
    replica (n_salts duplicates). Swap the sides (salt the other input)
    for a right-skewed outer join.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched right rows "
            f"x{n_salts}; allowed: inner/left/left_semi/left_anti "
            "(swap sides for right-preserving joins)"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)).alias(
        "__salt"
    )
    sl = left.select("*", salt)
    sr = right.select(
        "*", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salts)])).alias("__salt")
    )
    return sl.join(sr, [on, "__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Write a bucketed (and bucket-sorted) catalog table: both sides of a
    recurring fact-fact join bucketed on the join key join WITHOUT any
    exchange — the shuffle is paid once at write time, then every
    downstream join/aggregation on that key is co-located.

    This is the open-Spark equivalent of the reference's Z-order +
    partition co-location strategy for silver.order_items
    (docs/data_model.md:134-150): organize data once, save the shuffle on
    every read."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key —
    shuffle-free (SortMergeJoin with zero Exchange; asserted in tests)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def fixed_width_bucket(col, vmin, vmax, buckets: int):
    """Deterministic fixed-width bucket id for ``col`` given broadcast
    min/max columns: ``floor((col - vmin) / w)`` clamped to
    ``[0, buckets-1]``, with the degenerate all-equal case (``w <= 0``)
    collapsing to bucket 0.

    Monotone non-decreasing in ``col``, so bucket order == value order and
    rows that tie on ``col`` always share a bucket — the property that
    makes per-bucket windows compose into an exact global order. Being a
    pure expression (no sampling), it is consistent across recomputations
    of the same frame, unlike ``repartitionByRange``'s sampled bounds.

    NULL ``col`` maps to bucket -1 (before every real bucket) — matching
    Spark's ASC-nulls-first sort order, and keeping NULL rows out of the
    null-hostile equi-joins downstream instead of silently dropping
    them."""
    w = (vmax - vmin) / F.lit(float(buckets))
    raw = F.floor((col - vmin) / w)
    return (
        F.when(col.isNull(), F.lit(-1))
        .when(w <= F.lit(0.0), F.lit(0))
        .otherwise(F.least(raw, F.lit(buckets - 1)))
        .cast("int")
    )


def bucketed_global_row_number(
    df: DataFrame,
    sort_value,
    order_cols: list,
    buckets: int = 1024,
    rn_col: str = "rn",
    n_col: str = "n",
) -> DataFrame:
    """Distributed exact global row_number — the scale-safe replacement
    for ``row_number().over(Window.orderBy(...))`` (which Spark executes
    as ONE task sorting the entire input: the `WindowExec: No Partition
    Defined` plan, an OOM at 100 TB).

    Two-pass bucket rank:

    1. bucket every row by a fixed-width range of ``sort_value`` (a
       numeric Column monotone non-decreasing in the desired global
       order — pass a negated measure for DESC ranks);
    2. per-bucket counts -> cumulative offsets (a window over at most
       ``buckets`` rows, bounded by construction regardless of input
       size);
    3. ``row_number`` WITHIN each bucket (WindowExec partitioned by
       bucket, each partition ~ n/buckets rows) plus the bucket's offset
       = the exact global rank.

    ``order_cols`` must totally order rows within a bucket (include a
    unique tiebreak) and be consistent with ``sort_value`` bucket order.
    Output adds ``rn`` (1-based global rank) and ``n`` (total rows).

    Skew note: bucket width is (max-min)/buckets of the SORT VALUE, so a
    point mass (many rows with one identical value) degrades that one
    bucket to the tie set's size — the inherent cost of exactly ranking
    ties, and still a per-value (not per-table) partition. Collapse to
    distinct values upstream when ranks over ties are not needed
    (see value_quantiles_exact).
    """
    from pyspark.sql import Window

    sv = F.col("__sv")
    tagged = df.withColumn("__sv", sort_value.cast("double"))
    stats = tagged.agg(
        F.count(F.lit(1)).alias(n_col),
        F.min(sv).alias("__vmin"),
        F.max(sv).alias("__vmax"),
    )
    b = tagged.join(F.broadcast(stats)).withColumn(
        "__b", fixed_width_bucket(sv, F.col("__vmin"), F.col("__vmax"), buckets)
    )
    counts = b.groupBy("__b").agg(F.count(F.lit(1)).alias("__bc"))
    # This empty-partition window is the class the plan guard
    # deliberately allows (tests/test_plans.py): its input is the
    # per-bucket COUNT table — at most ``buckets`` (<=4096) rows by
    # construction, regardless of input size. Spark still logs
    # `WindowExec: No Partition Defined` for it at run time; that
    # warning is expected and cosmetic here, not a scale risk.
    offsets = counts.withColumn(
        "__off",
        F.sum("__bc").over(Window.orderBy("__b")) - F.col("__bc"),
    ).select("__b", "__off")
    ranked = (
        b.join(F.broadcast(offsets), "__b")
        .withColumn(
            rn_col,
            F.row_number().over(Window.partitionBy("__b").orderBy(*order_cols))
            + F.col("__off"),
        )
        .drop("__sv", "__b", "__off", "__vmin", "__vmax")
    )
    return ranked


def bucketed_prefix_sum(
    df: DataFrame,
    sort_value,
    order_cols: list,
    value_col: str,
    buckets: int = 1024,
    out_col: str = "prefix",
) -> DataFrame:
    """Distributed exact EXCLUSIVE prefix sum in a global order — the
    scale-safe replacement for ``sum(v).over(Window.orderBy(...)) - v``
    (a single-task global sort at 100 TB), built from the same two-pass
    bucket decomposition as :func:`bucketed_global_row_number`:

    1. bucket rows by a fixed-width range of ``sort_value``;
    2. per-bucket SUMS -> exclusive bucket offsets (a window over at
       most ``buckets`` rows — bounded by construction);
    3. an inclusive running sum WITHIN each bucket (WindowExec
       partitioned by bucket) minus the row's own value, plus the
       bucket offset = the exact exclusive global prefix.

    ``value_col`` must be an exact integer column (the order-free-sum
    rule: double prefix sums are not order-stable); ``order_cols`` must
    totally order rows within a bucket consistently with
    ``sort_value``. Output adds ``out_col``."""
    from pyspark.sql import Window

    sv = F.col("__sv")
    tagged = df.withColumn("__sv", sort_value.cast("double"))
    stats = tagged.agg(F.min(sv).alias("__vmin"), F.max(sv).alias("__vmax"))
    b = tagged.join(F.broadcast(stats)).withColumn(
        "__b", fixed_width_bucket(sv, F.col("__vmin"), F.col("__vmax"), buckets)
    )
    sums = b.groupBy("__b").agg(
        F.sum(value_col).cast("long").alias("__bs")
    )
    # bounded window: at most ``buckets`` rows (the sanctioned class —
    # see bucketed_global_row_number's plan-guard note)
    offsets = sums.withColumn(
        "__off",
        (F.sum("__bs").over(Window.orderBy("__b")) - F.col("__bs")).cast(
            "long"
        ),
    ).select("__b", "__off")
    w_in = (
        Window.partitionBy("__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(F.broadcast(offsets), "__b")
        .withColumn(
            out_col,
            (
                F.sum(value_col).over(w_in)
                - F.col(value_col)
                + F.col("__off")
            ).cast("long"),
        )
        .drop("__sv", "__b", "__off", "__vmin", "__vmax")
    )


def ntile_from_rank(rn, n, tiles: int):
    """Closed-form ``ntile(tiles)`` from a 1-based global rank ``rn`` and
    total count ``n`` (both Columns): with q = n div tiles and
    rem = n mod tiles, the first ``rem`` tiles take q+1 rows, the rest q
    — exactly Spark's/DuckDB's NTILE. Pairs with
    :func:`bucketed_global_row_number` so tile assignment never needs a
    single-partition window. Integer-exact for any realistic n (the
    double divisions stay below 2**53)."""
    q = F.floor(n / tiles)
    rem = n % tiles
    head = rem * (q + 1)
    return (
        F.when(rn <= head, F.ceil(rn / (q + 1)))
        .otherwise(rem + F.ceil((rn - head) / q))
        .cast("int")
    )


#: session conf key: set "true" to make every iterative operator use
#: RELIABLE checkpoints (HDFS/cloud-storage backed) instead of
#: executor-local ones. Off by default — correct for local mode and
#: short-round jobs; turn on for 100 TB runs with long round counts,
#: where losing an executor mid-iteration would otherwise force a full
#: recompute from round 0 (localCheckpoint blocks die with the executor).
RELIABLE_CHECKPOINT_CONF = "spark.ecommerce_lakehouse.reliableCheckpoint"


def iter_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage-truncation barrier for ITERATIVE operators (graph rounds,
    Lloyd iterations, BPE merges): per-round plans otherwise grow by one
    join per iteration and broadcast re-execution compounds exponentially
    (the pagerank lesson, queries/stats.py).

    Default path is ``localCheckpoint`` — cheapest, but executor-local:
    acceptable for bounded-round queries on healthy clusters, NOT
    fault-tolerant. With ``RELIABLE_CHECKPOINT_CONF`` set to "true" the
    barrier becomes a reliable ``checkpoint()`` to the context's
    checkpoint dir (auto-pointed at a temp dir if unset — production
    sets ``sparkContext.setCheckpointDir`` to durable storage). Both
    modes return the same rows (tested:
    tests/test_llm10.py::test_reliable_checkpoint_mode_agrees)."""
    spark = df.sparkSession
    flag = str(
        spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") or "false"
    ).lower()
    if flag != "true":
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark_graft_ckpt_"))
    return df.checkpoint(eager=eager)


#: Partition width for DOMAIN-BOUNDED iteration frames (see
#: narrow_barrier). 4 keeps the materialization parallel while bounding
#: the per-round task count; the frames it applies to are MB-scale at
#: any corpus size, so this is not a data-volume ceiling.
NARROW_ITER_WIDTH = 4


def narrow_barrier(
    df: DataFrame, width: int = NARROW_ITER_WIDTH, eager: bool = True
) -> DataFrame:
    """iter_barrier for iteration frames whose size is bounded by a
    DOMAIN, not the corpus (rank/label/frontier/distance tables over the
    support-thresholded co-purchase graph: rows <= the part catalog, MBs
    even at warehouse scale — the same argument that lets the queries
    broadcast them every round).

    Rationale (r09): the AQE coalescing floor (session.py) deliberately
    keeps small-but-compute-heavy shuffle outputs wide. For THESE frames
    that is the wrong trade — each round re-materializes and re-scans a
    few-KB table, so partition count is pure task-launch overhead
    multiplied by rounds (measured: pagerank 7.0 -> 8.5 s at sf0.1 from
    ~31 extra tasks x 2 jobs x 5 rounds). coalesce(width) bounds that
    without a shuffle; corpus-sized frames must NOT use this (their
    barriers stay at iter_barrier).

    ``eager=False`` (r10): a LAZY barrier still shares ONE RDD across
    every downstream plan branch (each branch embeds the same
    checkpointed RDD, so a single action computes it once and later
    references read the cached blocks — the rfm_segments precedent) but
    skips the separate materialization JOB and the wait for it. Eager
    barriers are for loops with per-round ACTIONS (loops that collect or
    count each round). A fixed-budget loop compiled into one action —
    every consumer of the frame inside a single plan, as in the
    fold-based graph queries and the round loops of bfs_hops_copurchase
    and sssp_copurchase — may use lazy ones."""
    return iter_barrier(df.coalesce(width), eager=eager)
