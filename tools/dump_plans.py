"""Regenerate PLANS.md: `explain("formatted")` operator trees for the
headline queries, with a one-line note on what each plan should show.

Run after any plan-affecting change: ``python tools/dump_plans.py``.
Keeping the trees in-repo lets a reviewer audit shuffle/broadcast/pruning
decisions without spinning up Spark.

``python tools/dump_plans.py --out DIR [names...]`` instead writes
``DIR/<name>.txt``: the optimized logical plan of each named registry
query (every query when no names are given), with expression ids
(``#123``) and LakeTable data-dir names (``v00000003-<12 hex>``)
normalized, and the group order of distinct-aggregate ``Expand``\s made
canonical (see :func:`canonical_expand`), so two dumps of one checkout
are byte-identical and two checkouts' dumps diff cleanly. A refactor
that claims to be a pure move dumps before and after and expects
``diff -r`` to be empty. Both modes read the tables under
``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_lakehouse_spark import get_spark  # noqa: E402
from ecommerce_lakehouse_spark.queries import REGISTRY  # noqa: E402

NAMES = {
    "daily_sales": "flagship gold mart: two-branch agg avoids the reference's join-fanout bug; broadcast dims",
    "tpch_q1_pricing_summary": "scan -> one partial+final agg, whole-stage codegen end to end",
    "tpch_q21_waiting_supplier": "the heaviest TPC-H: exchange reuse across the exists/not-exists branches",
    "exact_dedup": "hash-groupBy on md5: fixed-width shuffle regardless of text size",
    "minhash_lsh_pairs": "collapse-first -> banded LSH self-join on band_key; slim id pairs only",
    "embedding_cosine_dups": "exact-collapse then hyperplane-LSH buckets; candidates never all-pairs",
    "span_dedup_spans": "map-side window slide (HOF) -> single fixed-width shuffle on span hash",
    "span_dedup_rewrite": "span counts + slim position join; text shuffles once, id-keyed",
    "apply_mixture_sample": "broadcast per-domain factors; per-doc pass is map-side only",
    "merge_upsert_snapshot": "MERGE as DataFrame algebra (updates union the key-anti-joined target): one key shuffle, no LakeTable",
    "value_quantiles_exact": "distributed exact quantiles: distinct-value collapse, bounded bucket-offset window, per-bucket running totals — NO unpartitioned window over raw input",
    "customer_spend_deciles": "bucketed two-pass global rank + closed-form ntile: the only windows are per-bucket / over the <=1024-row bucket histogram",
    "tpch_q11_important_parts": "global scalar via one-row agg broadcast-joined back; no single-partition window over the per-part frame",
    "rfm_segments": "three bucketed two-pass ranks with lineage barriers; windows are per-bucket only",
    "shingle_novelty_profile": "shingle-keyed aggregate + one-row-per-shingle join back; no pair expansion under boilerplate skew",
    "pagerank_copurchase": "iterative SpMV: checkpointed graph, broadcast rank table per round, TakeOrdered top-k; per-round barrier stops broadcast re-execution of prior rounds",
    "triangle_copurchase": "degree-ordered orientation bounds the wedge join; two equi-self-joins of the oriented edges, pure counting",
    "trigram_index_search": "broadcast pattern-trigram join prunes the posting explode map-side; only pattern-relevant postings shuffle",
    "cms_heavy_hitters": "fixed 4x1024-cell sketch groupBy, broadcast back for estimation, TakeOrdered top-20",
    "pq_encode_eval": "16-row broadcast codebook, map-side subspace distances, (vec,subspace)-partitioned argmin window",
    "source_overlap_kmv": "per-source partitioned rank to 128 min-hashes, checkpointed sketch table, broadcast NLJ over source pairs only",
    "bm25_search": "map-side tf/dl array exprs (no explode), one-row corpus stats broadcast, TakeOrdered top-20",
    "shingle_similarity_join": "rarest-first prefix postings only enter the self-join; two hash joins back to shingle arrays for exact verification",
    "bootstrap_mean_ci": "repartitioned slim spine -> 32x hash fan-out collapsed by partial agg to <=B rows per task before the exchange",
    "value_mad_outliers": "one (type,value) collapse shuffle; both median windows partition by type over DOMAIN-bounded distinct values",
    "customer_spend_gini": "bucketed two-pass global rank (per-bucket windows + <=1024-row offset window), exact BIGINT moment sums",
    "rrf_hybrid_search": "two TakeOrdered top-20 lists full-outer joined; windows only over the <=20-row fused frames",
    "kll_quantile_sketch": "count + map-side hash-threshold filter + O(k) collect_list: the sketch never shuffles more than k items; audit pass broadcasts 3 estimate rows against the scan",
    "quality_classifier_scores": "256-bucket training groupBy + broadcast weight join; the only corpus-sized shuffle is the per-doc presence distinct",
    "ivf_pq_search_recall": "broadcast centroid/codebook/distance tables; candidate scoring joins codes on vec_id bounded by cell sizes; shortlist/refine windows per-query over bounded rows",
    "scd2_asof_lookup": "interval lookup as an EQUI broadcast join on the dim key with the validity range as residual — no nested loop, no cartesian",
    "shingle_containment_pairs": "one-sided rarest-prefix postings against the full inverted index; candidates verified via two id-keyed array joins",
    "order_open_interval_concurrency": "boundary-delta collapse to the date domain; the running-sum window is over that aggregated bounded frame",
    "pmi_collocations": "two vocabulary-bounded token groupBys + broadcast unigram joins; top-20 is TakeOrdered",
    "simhash_hamming_pairs": "collapse-first signatures, 4x band fan-out, stop-band anti-join, in-row popcount verify",
    "kcore_peeling_profile": "12 peel rounds over a checkpointed adjacency; per-round degree groupBy over the shrinking node set",
    "dbscan_customer_segments": "9-cell stencil joins on cell coords; core-cell CC as ONE in-row fold (domain-bounded); no point-level distance join",
    "frequent_triple_itemsets": "in-row C(basket,3) expansion collapsed map-side; three broadcast pair-support probes of the top-20",
    "isotonic_calibration": "shared classifier scoring body -> <=11-bucket groupBy -> ONE in-row PAVA stack fold",
    "binary_segmentation_changepoints": "day-level collapse; both CUSUM scans are aggregate-bounded windows keyed by segment",
    "random_projection_distortion": "broadcast 16x64 sign matrix; projection is a narrow in-row map; fixed-width ratio histogram",
}


_EXPR_ID = re.compile(r"#\d+")
_DATA_DIR = re.compile(r"v\d+-[0-9a-f]{12}")
_GID = re.compile(r"\(gid# = (\d+)\)")


def _split(s: str) -> list[str]:
    """The top-level comma-separated items of ``s`` (brackets and
    parentheses nest)."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    return items + [s[start:].strip()]


def _parent(lines: list[str], i: int) -> int:
    """Index of the plan-tree parent of line ``i``: the nearest line
    above whose operator starts further left."""
    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    return next(j for j in range(i - 1, -1, -1) if col(lines[j]) < col(lines[i]))


def canonical_expand(plan: str) -> str:
    """Catalyst's distinct-aggregate rewrite (``RewriteDistinctAggregates``)
    orders the distinct children and the ``gid`` of each group by hashes
    of expression ids, so one query's ``Expand`` differs between JVM runs
    (``daily_sales``, ``profile_constraint_suggestions``, ...). Put each
    Expand in one order: the distinct-child columns (those some group row
    leaves null, ahead of ``gid#``) sorted by name, the group rows sorted
    by content with their gids renumbered in that order; the same column
    order goes into the Aggregate above and the renumbered gids into the
    FILTER clauses of the Aggregate above that."""
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        at = line.find("Expand [[")
        if at < 0:
            continue
        rows_s, out_s = _split(line[at + len("Expand "):])
        rows = [_split(r[1:-1]) for r in _split(rows_s[1:-1])]
        out = _split(out_s[1:-1])
        if "gid#" not in out:
            continue  # GROUPING SETS / ROLLUP: a fixed order
        g = out.index("gid#")
        dcols = [j for j in range(g) if any(r[j] == "null" for r in rows)]
        perm = list(range(len(out)))
        perm[dcols[0]:dcols[-1] + 1] = sorted(dcols, key=lambda j: out[j])
        rows = sorted(([r[k] for k in perm] for r in rows), key=lambda r: r[:g] + r[g + 1:])
        gids = sorted((r[g] for r in rows), key=int)
        renumber = {r[g]: n for r, n in zip(rows, gids)}
        for r, n in zip(rows, gids):
            r[g] = n
        lines[i] = line[:at] + "Expand [{}], [{}]".format(
            ", ".join("[" + ", ".join(r) + "]" for r in rows),
            ", ".join(out[k] for k in perm),
        )
        up = _parent(lines, i)
        lines[up] = lines[up].replace(
            ", ".join(out[j] for j in dcols), ", ".join(out[k] for k in perm[dcols[0]:g])
        )
        top = _parent(lines, up)
        lines[top] = _GID.sub(lambda m: f"(gid# = {renumber[m.group(1)]})", lines[top])
    return "\n".join(lines)


def dump_optimized(spark, sf: str, out_dir: str, names: list[str]) -> None:
    """Write each query's normalized optimized logical plan to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names or list(REGISTRY):
        plan = REGISTRY[name](spark, sf)._jdf.queryExecution().optimizedPlan().toString()
        plan = canonical_expand(_DATA_DIR.sub("v{n}-{uuid}", _EXPR_ID.sub("#", plan)))
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.partition("\n\n")[0])
    ap.add_argument("--out", help="write normalized optimized plans here instead of PLANS.md")
    ap.add_argument("names", nargs="*", help="registry queries for --out (default: all)")
    args = ap.parse_args()
    if args.names and not args.out:
        ap.error("query names need --out")
    spark = get_spark("plans", shuffle_partitions=32)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args.out:
        dump_optimized(spark, sf, args.out, args.names)
        return
    out = [
        "# PLANS — physical plans of the headline queries (sf0.1, local[32])",
        "",
        "Generated by `tools/dump_plans.py` (re-run it after plan-affecting changes).",
        "Each plan is `df.explain('formatted')` output; the one-line note says what",
        "to look for. AQE is enabled, so exchanges shown may further coalesce at runtime.",
        "",
    ]
    for name, note in NAMES.items():
        df = REGISTRY[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        head = buf.getvalue().partition("\n\n")[0]
        out += [f"## {name}", "", f"*{note}*", "", "```", head.strip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md: {len(NAMES)} plans written")


if __name__ == "__main__":
    main()
