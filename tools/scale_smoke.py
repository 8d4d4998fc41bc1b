"""Scale-up smoke: replicate the documents/embeddings tables K× and
measure the dedup/ANN family's growth behavior.

The question a 100 TB deployment asks of every candidate-generation
operator is "what happens to candidate counts and bucket sizes when the
corpus grows 10×?" — a well-bucketed LSH grows candidates ~linearly
(bucket count grows, bucket size stays bounded by near-dup density),
while a broken one grows quadratically. This tool synthesizes a K×
corpus (replicas get perturbed ids/text so exact dedup still collapses
them and near-dup density rises, the adversarial direction), runs the
candidate-generating queries, and reports wall time + output sizes.

Usage: python tools/scale_smoke.py [K] [base_sf_dir] [--poison N]
Writes the synthetic corpus under /tmp/spark_graft_scale_smoke.

--poison N additionally injects N distinct documents sharing a 21-token
boilerplate prefix (each with a unique tail token) — the adversarial
hot-band case: they are NOT exact dups (collapse can't remove them) and
most of their MinHash band buckets coincide, so without the
MH_BUCKET_CAP stop-band guard the band join expands ~N²/2 candidate
pairs. With the guard, wall time stays bounded and band_skew_profile
reports exactly what was dropped.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from ecommerce_lakehouse_spark import get_spark  # noqa: E402
from ecommerce_lakehouse_spark.queries import REGISTRY  # noqa: E402

QUERIES = [
    "exact_dedup",
    # profile-before-expand is the operationally sensible order (check
    # bucket skew before running the pair join); it also means the band
    # join's timing slot reflects a warmed JVM, as steady state would
    "band_skew_profile",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "embedding_lsh_ann",
    "embedding_cosine_dups",
    "embedding_cosine_dups_expanded",
    "ngram_contamination",
    "repetition_profile",
    # novelty: 10x exact replication must drive replicas' novelty to 0 via
    # the shingle->min-doc aggregate, never a pair expansion
    "shingle_novelty_profile",
    # packing plan: pure window pass, wall time ~linear in corpus size
    "concat_packing_plan",
    # span-level dedup: output is bounded by DISTINCT duplicated spans, so
    # K× exact replication must grow wall time ~linearly (same distinct
    # spans, bigger counts), not with the pair count C(copies,2)
    "span_dedup_spans",
    "span_dup_rate",
    # collapse-first survivor filter (r08): spans computed once per
    # DISTINCT text with copy-count-weighted multiplicities, so K× exact
    # replication must leave the span stage's input unchanged
    "span_dedup_clean",
    # rewrite shuffles text once (id-keyed join); at 10x duplication most
    # tokens are covered by duplicated windows, the adversarial direction
    "span_dedup_rewrite",
    # trigram LM: model tables are vocabulary-bounded (replication adds
    # counts, not rows), doc scoring joins per-doc DISTINCT trigrams —
    # wall time must grow ~linearly with the corpus, model cost ~flat
    "trigram_backoff_scores",
    # BPE training: the word-frequency table is vocabulary-bounded, so K×
    # replication changes freqs, not rows — the 32 merge rounds must cost
    # ~the same as unreplicated (sub-linear in corpus size)
    "bpe_merge_steps",
    # exact prefix-filtered similarity join: collapse-first, so K× exact
    # replication must NOT grow the posting index (same canonical set:
    # measured 2.3 s / 5.6k pairs at K=10, same as unreplicated). Under
    # --poison the N shared-prefix docs genuinely ARE pairwise near-dups,
    # so the TRUE answer is C(N,2) pairs — the exact join is output-bound
    # by contract (measured 13.9 s / 2.0M verified pairs at N=2000, no
    # candidate inflation beyond the true result); when the true pair set
    # itself is quadratic, the cluster representation (neardup_clusters)
    # is the right operator, not pair enumeration
    "shingle_similarity_join",
    # SemDeDup: collapse-first k-means + within-cluster pairs. K× exact
    # replication must leave the canonical vector set (and so cluster
    # sizes and the candidate pair count) unchanged — only the member
    # expansion grows
    "semantic_cluster_dups",
    # Matryoshka recall audit: brute-force over the corpus with a
    # broadcast query side — wall time ~linear in K, and the prefix
    # variants are in-row slices (no extra shuffle to grow)
    "matryoshka_prefix_recall",
    # label centroids: map-side collapse to (label x 64 dims) regardless
    # of K — wall time ~flat, the collapse IS the scale argument
    "label_centroid_similarity",
]

_BOILERPLATE = (
    "terms of service apply to all content on this page please read the "
    "following disclaimer carefully before proceeding further"
)


def build_corpus(spark, base: str, out: str, k: int, poison: int = 0) -> dict:
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    n = docs.count()
    reps = None
    for i in range(k):
        # replica i: shifted ids; odd replicas keep text identical (exact
        # dups), even replicas append a suffix token (near dups)
        r = docs.select(
            (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
            (
                F.col("text")
                if i % 2 == 1 or i == 0
                else F.concat(F.col("text"), F.lit(f" replica{i}"))
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps = r if reps is None else reps.unionByName(r)
    if poison:
        # hot-band injection: distinct texts sharing a boilerplate prefix
        hot = spark.range(poison).select(
            (F.col("id") + F.lit(k * n)).alias("doc_id"),
            F.concat(F.lit(_BOILERPLATE + " tail"), F.col("id").cast("string")).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("boilerplate").alias("source"),
            F.length(F.concat(F.lit(_BOILERPLATE + " tail"), F.col("id").cast("string"))).alias("n_chars"),
        )
        reps = reps.unionByName(hot)
    reps.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    m = emb.count()
    ereps = None
    for i in range(k):
        r = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * m))
        ereps = r if ereps is None else ereps.unionByName(r)
    ereps.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return {"docs": n * k, "vecs": m * k}


def main() -> None:
    argv = sys.argv[1:]
    poison = 0
    if "--poison" in argv:
        i = argv.index("--poison")
        poison = int(argv[i + 1])
        # remove the flag and ITS OWN value by position — filtering by
        # string value would also strip a positional K equal to it
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]
    k = int(args[0]) if args else 10
    base = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    out = "/tmp/spark_graft_scale_smoke"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    spark = get_spark("scale-smoke")
    sizes = build_corpus(spark, base, out, k, poison=poison)
    report: dict = {"k": k, "base": base, "poison": poison, **sizes, "queries": {}}
    for name in QUERIES:
        t0 = time.time()
        df = REGISTRY[name](spark, out)
        rows = df.count()
        report["queries"][name] = {"sec": round(time.time() - t0, 2), "rows": rows}
        print(f"{name:26s} {report['queries'][name]['sec']:7.2f}s  {rows} rows", file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
