"""Graph kernels: distributed connected components by min-label
propagation — the shared engine behind neardup_clusters
(queries/llm3.py) and the curation pipeline's cluster stage
(pipelines/curation.py) — and the one-row dense adjacency frame that the
co-purchase graph queries fold over in-row (``dense_graph_frame``).

Plain neighbor-min propagation advances the minimum label ONE hop per
iteration, so it converges in O(graph diameter) iterations — not
log(diameter); the log-round pointer-jumping variant
(``pointer_jump=True``: a Shiloach-Vishkin doubling join per round)
handles adversarially long chains at one extra shuffle per round. Near-dup graphs are overwhelmingly star/clique-shaped
(copies of a template all pair with each other), so diameter is small in
practice; the iteration bound is a guardrail and overrunning it RAISES
instead of silently returning half-merged clusters.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from ecommerce_lakehouse_spark.operators.scale import iter_barrier, narrow_barrier
from pyspark.sql import DataFrame, Window


def min_label_propagation(
    ids: DataFrame, pairs: DataFrame, max_iters: int = 64, pointer_jump: bool = False
) -> DataFrame:
    """(doc_id) x (doc_a, doc_b) -> (doc_id, cluster_id) where cluster_id
    is the minimum doc_id in the connected component.

    Per iteration: one join + partial-min aggregate; lineage truncated
    with localCheckpoint so plan size stays constant; convergence is a
    control-plane count over the cached result (no data to the driver).
    Raises RuntimeError if ``max_iters`` rounds don't converge — a graph
    with diameter that deep needs ``pointer_jump=True``, and a silently
    wrong clustering is worse than a loud failure.

    ``pointer_jump`` adds a Shiloach-Vishkin-style doubling step per
    round (labels re-join labels: L(u) <- L(L(u))), collapsing chain
    depth geometrically — O(log diameter) rounds at the cost of one
    extra shuffle join each. Default off: near-dup graphs are
    star/clique-shaped (diameter ~2-3), where the plain hop converges in
    fewer total shuffles. The label a node converges to is identical
    either way (the component minimum — L(u) always stays inside u's
    component, and the minimum is the unique fixed point)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.transform(iter_barrier)  # pair generation runs once, not per iter

    labels = ids.select("doc_id", F.col("doc_id").alias("cluster_id")).transform(iter_barrier)
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("n_doc"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry the old label through the checkpoint so convergence is a
        # filter-count over the cached result — no extra join per iteration
        cand = labels.join(neigh, labels.doc_id == neigh.n_doc, "left").select(
            "doc_id",
            F.col("cluster_id").alias("old_label"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        if pointer_jump:
            # doubling: follow the label's own label (L(u) <- L(L(u))).
            # cluster_id is always a member of u's component, so the jump
            # stays inside it; chain depth halves per round.
            parent = cand.select(
                F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_lab")
            )
            cand = cand.join(parent, cand.cluster_id == parent.p_id, "left").select(
                "doc_id",
                "old_label",
                F.least(
                    F.col("cluster_id"), F.coalesce("p_lab", "cluster_id")
                ).alias("cluster_id"),
            )
        cand = cand.transform(iter_barrier)
        changed = cand.filter(F.col("cluster_id") < F.col("old_label")).count()
        labels = cand.select("doc_id", "cluster_id")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min-label propagation did not converge in {max_iters} iterations "
        "(graph diameter exceeds the bound); retry with pointer_jump=True "
        "(O(log diameter) rounds) or raise max_iters"
    )


def incremental_components(
    prev_labels: DataFrame,
    ids: DataFrame,
    pairs: DataFrame,
    max_iters: int = 64,
    pointer_jump: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental connected components, seeded from a previous labeling
    (the curation pipeline's clusters table): recompute ONLY the
    components adjacent to new work instead of the whole corpus.

    Inputs are TABLE STATE (full ids + full pairs + previous labels), so
    a crashed batch replays correctly — "new" is derived as ids absent
    from ``prev_labels``, never from an in-memory delta.

    1. new nodes  = ids - prev_labels;
    2. new edges  = pairs with >= 1 new endpoint (the only edges the
       incremental-LSH stage can add — old-old pairs were already merged
       into prev_labels' components);
    3. affected   = every member of any previous component touched by a
       new edge's old endpoint;
    4. the subgraph (new nodes + affected members) runs min-label
       propagation with the previous connectivity COMPRESSED to
       (member -> old cluster_id) star edges — prior components
       contribute diameter <= 2, so rounds scale with the NEW data's
       diameter, not history.

    Returns ``(sub_labels, sub_ids)``: the recomputed labels (a DELTA to
    MERGE over the previous table — untouched components never rewrite)
    and the recomputed node set (exposed so tests and monitoring can
    assert the incremental path touches ~batch-sized row counts).
    Labels equal a from-scratch recompute exactly: compressed star edges
    preserve connectivity, and min-label is connectivity-determined."""
    prev = prev_labels.select("doc_id", "cluster_id")
    new_ids = ids.select("doc_id").join(
        prev.select("doc_id"), "doc_id", "left_anti"
    )
    na = new_ids.select(F.col("doc_id").alias("__n"))
    pa = pairs.join(na, pairs["doc_a"] == F.col("__n"), "left_semi")
    pb = pairs.join(na, pairs["doc_b"] == F.col("__n"), "left_semi")
    new_edges = pa.unionAll(pb).select("doc_a", "doc_b").dropDuplicates(
        ["doc_a", "doc_b"]
    )
    endpoints = (
        new_edges.select(F.col("doc_a").alias("doc_id"))
        .unionAll(new_edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    old_endpoints = endpoints.join(new_ids, "doc_id", "left_anti")
    affected_clusters = (
        prev.join(old_endpoints, "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    affected = prev.join(affected_clusters, "cluster_id", "left_semi")
    star_edges = affected.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
    )
    sub_ids = new_ids.unionAll(affected.select("doc_id")).distinct()
    sub_labels = min_label_propagation(
        sub_ids,
        new_edges.unionAll(star_edges),
        max_iters=max_iters,
        pointer_jump=pointer_jump,
    )
    return sub_labels, sub_ids


def dense_graph_frame(adj: DataFrame) -> DataFrame:
    """ONE-ROW dense adjacency over the support-bounded symmetric
    adjacency ``(z, nbr)``: column ``nodes`` (array<bigint>, ascending —
    index order is node-id order) and ``adjx`` (array<array<int>>,
    1-based neighbor indexes, ascending per node).

    Only for graphs that are control-plane-sized by construction. The
    co-purchase consumers (queries/graph_ml.py, stats.py, mining.py)
    qualify: the relative-support cut bounds the surviving graph
    independent of corpus size (E <= C(avg_width, 2) * 150000/2 — the
    per-basket edge-weight budget over the threshold, which scales with
    n_baskets), so the graph is control-plane-sized BY CONSTRUCTION and
    bounded-round iteration over it (label propagation, PageRank) is a
    fixed-cost problem: round-per-job execution pays ~2 jobs of
    scheduler overhead per round against a few-thousand-row frame. The
    index is built DISTRIBUTEDLY (bounded row_number + two broadcast
    hash joins + one groupBy, O(E)) and only the final collect_list is
    single-task — sized by the support-bounded graph itself, the same
    argument that lets every graph consumer broadcast its node table
    per round. NOT valid for the unthresholded co-purchase graph
    (bfs/sssp), whose edge set densifies with the corpus."""
    # idx feeds THREE consumers (both eidx sides + the final join);
    # lazy narrow barrier computes the bounded window once per action
    idx = (
        adj.select("z")
        .distinct()
        .select(
            "z",
            F.row_number().over(Window.orderBy("z")).cast("int").alias("i"),
        )
        .transform(lambda d: narrow_barrier(d, eager=False))
    )
    eidx = (
        adj.join(F.broadcast(idx), "z")
        .join(
            F.broadcast(
                idx.select(F.col("z").alias("nbr"), F.col("i").alias("j"))
            ),
            "nbr",
        )
        .select("i", "j")
    )
    adjp = eidx.groupBy("i").agg(F.sort_array(F.collect_list("j")).alias("nbrs"))
    return (
        # broadcast the right side explicitly: both inputs scan barrier
        # RDDs (no size stats), so the planner would otherwise pick a
        # SortMergeJoin with two exchanges for two node-domain frames
        idx.join(F.broadcast(adjp), "i", "left")
        .select(
            "i",
            "z",
            F.coalesce("nbrs", F.array().cast("array<int>")).alias("nbrs"),
        )
        .agg(F.expr("array_sort(collect_list(struct(i, z, nbrs)))").alias("nd"))
        .select(
            F.expr("transform(nd, x -> x.z)").alias("nodes"),
            F.expr("transform(nd, x -> x.nbrs)").alias("adjx"),
        )
    )
