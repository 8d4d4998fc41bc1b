"""Scale-pattern operators: salted joins must be result-identical to plain
joins on skewed data; bucketed tables must join with zero exchanges (the
shuffle paid once at write time)."""

import pytest
import sys
from pathlib import Path

import pyspark.sql.functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from explain_audit import plan_text  # noqa: E402

from ecommerce_lakehouse_spark.operators import bucketed_join, salted_join, write_bucketed


def test_salted_join_matches_plain_join(spark):
    # 90% of rows share one hot key — the AQE-resistant worst case
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(7, "hot"), (10, "a"), (20, "b"), (30, "c")], ["k", "name"]
    )
    plain = left.join(right, "k").select("k", "payload", "name")
    salted = salted_join(left, right, "k").select("k", "payload", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["k", "v"])
    right = spark.createDataFrame([(1, "r1")], ["k", "w"])
    got = salted_join(left, right, "k", n_salts=4, how="left").select("k", "v", "w")
    assert sorted(map(tuple, got.collect())) == [(1, "x", "r1"), (2, "y", None), (3, "z", None)]


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_salted_join_equivalence_every_allowed_how(spark):
    """Property: for every allowed join type, salted == plain on data with
    unmatched rows on BOTH sides (the case that exposes replication bugs)."""
    import pytest

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], ["k", "v"]
    )
    right = spark.createDataFrame([(1, "r1"), (2, "r2"), (9, "r9")], ["k", "w"])
    for how in ["inner", "left", "left_semi", "left_anti"]:
        plain = left.join(right, "k", how)
        salted = salted_join(left, right, "k", n_salts=4, how=how)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), f"how={how} mismatch"
    for how in ["right", "full", "full_outer", "rightouter"]:
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, "k", n_salts=4, how=how)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", buckets=4, path=str(tmp_path / "bo"))
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", buckets=4, path=str(tmp_path / "bl"))
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable auto-broadcast: at test scale the tables are tiny and Spark
    # would broadcast; the property under test is the big-big join path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        text = plan_text(joined)
        assert "SortMergeJoin" in text
        assert "Exchange" not in text, "bucketed join must not shuffle"
        # and it's still correct
        plain = orders.join(lineitem, "o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_band_skew_guard_drops_hot_buckets(spark, tmp_path):
    """Round-3 skew guard (verdict item #8): a boilerplate cluster of 600
    DISTINCT docs (shared 21-token prefix, unique tails — exact-collapse
    cannot remove them) lands them in shared band buckets; buckets over
    _BUCKET_CAP must be dropped WHOLE by minhash_lsh_pairs, and
    band_skew_profile must report the drop (no silent truncation)."""
    import pyspark.sql.functions as F

    from ecommerce_lakehouse_spark.operators.lsh import MH_BUCKET_CAP as _BUCKET_CAP
    from ecommerce_lakehouse_spark.queries import REGISTRY

    boiler = (
        "terms of service apply to all content on this page please read the "
        "following disclaimer carefully before proceeding further"
    )
    n = _BUCKET_CAP + 88
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " tail"), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boilerplate").alias("source"),
        F.lit(120).alias("n_chars"),
    )
    sf_dir = str(tmp_path / "poison")
    docs.write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    prof = REGISTRY["band_skew_profile"](spark, sf_dir).collect()[0]
    assert prof["max_bucket"] > _BUCKET_CAP
    assert prof["n_over_cap"] >= 1
    assert prof["candidates_dropped"] > 0

    # the pair query stays bounded: without the guard this corpus alone
    # would expand ~n²/2 ≈ 180k pairs per hot band; with it, the only
    # pairs that survive come from sub-cap buckets
    pairs = REGISTRY["minhash_lsh_pairs"](spark, sf_dir)
    assert pairs.count() < n * (n - 1) // 2


def test_cosine_dups_expanded_cap_matches_raw_oracle_at_high_multiplicity(
    spark, tmp_path
):
    """600 exact copies of one vector (> _CD_BUCKET_CAP=512): the raw
    oracle's buckets hold 600 rows and drop every pair, so the
    collapse-first path must drop the within-group expansion too — the
    cap is weighted by multiplicity, not by canonical row count."""
    import os

    import numpy as np

    from ecommerce_lakehouse_spark.queries import ORACLES, REGISTRY
    from ecommerce_lakehouse_spark.testing import check_query

    rng = np.random.default_rng(9)
    base = rng.normal(size=64).tolist()
    rows = [(i, [float(x) for x in base], "dup") for i in range(600)]
    # plus a small pair of near-identical distinct vectors that MUST
    # still be found (their buckets stay under the cap)
    v2 = rng.normal(size=64)
    rows.append((1000, [float(x) for x in v2], "a"))
    rows.append((1001, [float(x) for x in v2 + 1e-6], "b"))
    d = str(tmp_path / "caps")
    os.makedirs(d, exist_ok=True)
    # single FILE (not a Spark directory): DuckDB's read_parquet in the
    # oracle harness expects the driver-testdata layout
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows]),
        }
    )
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))

    ok, msg = check_query(
        spark,
        "embedding_cosine_dups_expanded",
        REGISTRY["embedding_cosine_dups_expanded"],
        ORACLES["embedding_cosine_dups_expanded"],
        d,
    )
    assert ok, msg
    got = REGISTRY["embedding_cosine_dups_expanded"](spark, d).collect()
    ids = {r.vec_a for r in got} | {r.vec_b for r in got}
    assert ids == {1000, 1001}  # dup-600 group dropped whole, real pair kept


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_min_label_propagation_long_chain_converges(spark):
    # a 30-node path graph has diameter 29 > the old 15-iteration cap;
    # every node must still reach cluster 0 (or the run must raise — but
    # never return half-merged clusters silently)
    from ecommerce_lakehouse_spark.operators.graph import min_label_propagation

    n = 30
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    labels = {r.doc_id: r.cluster_id for r in min_label_propagation(ids, pairs).collect()}
    assert set(labels.values()) == {0}

    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_propagation(ids, pairs, max_iters=3)


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_pointer_jump_converges_in_log_rounds(spark):
    """pointer_jump=True (Shiloach-Vishkin doubling per round) must merge
    a deep chain in O(log diameter) rounds: a 60-node path (diameter 59)
    converges inside a 12-iteration cap that the plain one-hop walker
    provably cannot meet — and produces identical labels."""
    from ecommerce_lakehouse_spark.operators.graph import min_label_propagation

    n = 60
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    import pytest

    with pytest.raises(RuntimeError, match="pointer_jump"):
        min_label_propagation(ids, pairs, max_iters=12)
    labels = {
        r.doc_id: r.cluster_id
        for r in min_label_propagation(
            ids, pairs, max_iters=12, pointer_jump=True
        ).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == n


def test_pagerank_copurchase_matches_python_recompute(spark):
    """The 5-round integer-nano PageRank must agree exactly with a pure-
    Python recomputation of the same integer recurrence at sf0.01 over
    the relative-support graph (r09: pagerank unified onto the shared
    thresholded edge set, VERDICT r08 #1)."""
    from collections import Counter, defaultdict
    from itertools import combinations
    from math import ceil

    import pyarrow.parquet as pq

    from ecommerce_lakehouse_spark.queries.stats import pagerank_copurchase

    sf = "/root/testdata/sf0.01"
    t = pq.read_table(sf + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    per_order = defaultdict(set)
    for ok, pk in zip(t["l_orderkey"].to_pylist(), t["l_partkey"].to_pylist()):
        per_order[ok].add(pk)
    support = Counter(
        pair
        for parts in per_order.values()
        for pair in combinations(sorted(parts), 2)
    )
    thr = max(2, ceil(2.0 * len(per_order) / 150000.0))
    pairs = {p for p, c in support.items() if c >= thr}
    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    rank = {n: 1_000_000_000 for n in adj}
    for _ in range(5):
        out = {n: rank[n] // len(adj[n]) for n in adj}
        nxt = defaultdict(int)
        for n, nbrs in adj.items():
            for m in nbrs:
                nxt[m] += out[n]
        rank = {n: 150_000_000 + (85 * s) // 100 for n, s in nxt.items()}
    expect = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:25]

    got = [
        (r.p_partkey, r.rank_nanos)
        for r in pagerank_copurchase(spark, sf).collect()
    ]
    assert got == expect


def test_support_graph_apriori_prune_preserves_edges(spark):
    """VERDICT r08 #1 'done' criterion: the Apriori endpoint prune +
    collapse-first basket weighting must yield IDENTICAL edge sets to
    the un-pruned expansion (an edge's support <= min over endpoints of
    their order frequency, so no part below threshold can appear in a
    surviving edge; weighting by distinct-basket multiplicity is exact
    support counting)."""
    from ecommerce_lakehouse_spark.queries.graph_ml import _support_graph

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        pruned, _ = _support_graph(spark, sf, prune=True)
        plain, _ = _support_graph(spark, sf, prune=False)
        got = {(r.s, r.d) for r in pruned.collect()}
        want = {(r.s, r.d) for r in plain.collect()}
        assert got == want, sf


def test_triangle_copurchase_matches_python_recompute(spark):
    """Per-node triangle counts must equal a pure-Python recomputation
    (relative-support edges, degree-ordered orientation) at sf0.01."""
    from collections import Counter, defaultdict
    from itertools import combinations

    import pyarrow.parquet as pq

    from ecommerce_lakehouse_spark.queries.stats import triangle_copurchase

    sf = "/root/testdata/sf0.01"
    t = pq.read_table(sf + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    per_order = defaultdict(set)
    for ok, pk in zip(t["l_orderkey"].to_pylist(), t["l_partkey"].to_pylist()):
        per_order[ok].add(pk)
    support = Counter(
        pair
        for parts in per_order.values()
        for pair in combinations(sorted(parts), 2)
    )
    edges = {p for p, c in support.items() if c >= 2}
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    out = defaultdict(set)  # lo -> {hi} under (degree, id) order
    for a, b in edges:
        lo, hi = (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
        out[lo].add(hi)
    tri = Counter()
    for lo, his in out.items():
        for b, c in combinations(sorted(his), 2):
            if c in out.get(b, ()):
                tri[lo] += 1
                tri[b] += 1
                tri[c] += 1
    got = {r.p_partkey: r.n_triangles for r in triangle_copurchase(spark, sf).collect()}
    assert got == dict(tri)


def test_bucketed_rank_bounds_task_rows_on_replicated_frame(spark):
    """The rank-smoke's max_task_rows measurement as CI (r04 verdict
    item #7): on a 20x-replicated frame the bucketed global rank must
    (a) produce the exact permutation a global sort would, and (b) keep
    every per-bucket window partition within a small factor of
    n/buckets — the memory ceiling that makes it survive 100 TB where
    the retired `row_number() OVER (ORDER BY ...)` shape put all n rows
    in ONE task. Red if anyone reintroduces a global-sort rank or
    breaks the fixed-width bucketing."""
    from ecommerce_lakehouse_spark.operators.scale import (
        bucketed_global_row_number,
        fixed_width_bucket,
    )

    n_vals, copies, buckets = 10_000, 20, 1024
    n = n_vals * copies
    # 20 exact copies of each value: the adversarial tie direction the
    # replication smoke uses (tie mass grows, bucket width doesn't)
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") % n_vals) * F.lit(0.37) - F.lit(1850.0)).alias("v"),
    )
    ranked = bucketed_global_row_number(
        df, F.col("v"), [F.asc("v"), F.asc("id")], buckets=buckets
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.countDistinct("rn").alias("nd"),
    ).first()
    assert (agg.rows, agg.lo, agg.hi, agg.nd) == (n, 1, n, n)
    # rank order agrees with the sort order on a band around the median
    mid = ranked.filter((F.col("rn") >= n // 2) & (F.col("rn") < n // 2 + 50))
    vals = [r.v for r in mid.orderBy("rn").collect()]
    assert vals == sorted(vals)

    # per-task bound: the largest bucket (== largest per-bucket window
    # partition) stays within 4x the ideal n/buckets even with 20x ties
    st = df.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    hist = (
        df.join(F.broadcast(st))
        .groupBy(
            fixed_width_bucket(
                F.col("v"), F.col("lo"), F.col("hi"), buckets
            ).alias("b")
        )
        .count()
    )
    max_bucket = hist.agg(F.max("count")).first()[0]
    assert max_bucket <= 4 * (n // buckets), max_bucket
    assert max_bucket < n // 10  # nowhere near the single-task shape
