"""Locality-sensitive hashing kernels: MinHash signatures and LSH bands
for near-duplicate text, and random-hyperplane buckets for embeddings.

Twin contract: every kernel that an oracle mirrors comes as a Spark
expression and a DuckDB SQL twin built from the same constants, and the
two agree bit for bit. MinHash hashes shingles with
``operators.text.H32_S``/``H32_D`` into ``MH_K`` universal hashes
``(h * (2k + 1) + (12345 + k)) % MH_P``, so a signature, its band keys
and its Jaccard estimate are engine-independent (the DuckDB side is
written out in the ``minhash_lsh_pairs`` family's oracles).
Hyperplanes are deterministic md5-derived literals (``hyperplanes``)
that ``bucket_col`` (Spark) and ``bucket_sql`` (DuckDB) embed alike, so
each vector lands in the same bucket in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ecommerce_lakehouse_spark.operators.text import H32_S, WS_TOKS_S, h32

# MinHash parameters: MH_K universal hashes (a_k*h+b_k mod MH_P), banded
# into MH_BANDS bands of 4 signature positions.
MH_K, MH_BANDS = 32, 8
MH_P = 4294967311  # prime > 2^32
MH_EST_THRESHOLD = 0.125  # ≥4 of 32 signature positions agree

# Skew guard: a band bucket larger than this is a degenerate "stop band"
# — after exact-collapse, only template/boilerplate corpora produce
# them, and expanding such a bucket is quadratic work for near-zero
# dedup signal (the same pair is recoverable from its other 7 bands
# unless it is pathological in ALL bands). Buckets over the cap are
# dropped WHOLE (never truncated) in both the Spark plan and the DuckDB
# oracle; the drop is observable, not silent — the registered
# band_skew_profile query reports bucket-size stats and the over-cap
# count, and tools/scale_smoke.py's poisoned-corpus variant measures the
# guard keeping wall time bounded.
MH_BUCKET_CAP = 512

# Width of the embeddings table's vectors.
EMBED_DIM = 64


def minhash_signatures_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(…, text) -> (…, sig): the 3-gram-shingle MinHash signature as an
    array<bigint> column, all other columns preserved. Shared by
    minhash_lsh_pairs (queries/llm2.py) and pipelines/curation.py (the
    incremental band index). Docs with < 3 tokens are dropped (no shingle exists).

    Single pass over the hash array with a K-wide accumulator — see the
    projection-collapse note inside (Catalyst inlines md5 work into every
    reference of the naive per-k form; measured 9.1s -> 0.9s at sf0.1)."""
    passthrough = [c for c in docs.columns if c != text_col]
    return (
        docs.select(*passthrough, F.expr(WS_TOKS_S.replace("text", text_col)).alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        .withColumn(
            "shingles",
            F.expr(
                "array_distinct(transform(sequence(0, size(toks) - 3),"
                " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
            ),
        )
        # Init value MH_P is a safe +inf: universal-hash outputs are % MH_P.
        .withColumn(
            "sig",
            F.expr(
                f"aggregate(transform(shingles, s -> {H32_S.format(x='s')}),"
                f" array_repeat(cast({MH_P} as bigint), {MH_K}),"
                f" (acc, h) -> zip_with(acc, sequence(0, {MH_K - 1}),"
                f"   (m, k) -> least(m, (h * (2*k + 1) + (12345 + k)) % {MH_P})))"
            ),
        )
        .select(*passthrough, "sig")
    )


def minhash_bands_df(sig_df: DataFrame) -> DataFrame:
    """(…, sig) -> (…, sig, band_key) with one row per band — the LSH
    index shape ((band_key, doc_id) is the inverted index a 100 TB
    incremental dedup maintains as a table)."""
    return sig_df.select(
        "*",
        F.explode(
            F.expr(
                f"transform(sequence(0, {MH_BANDS - 1}),"
                " j -> concat_ws(',', j, sig[4*j], sig[4*j+1], sig[4*j+2], sig[4*j+3]))"
            )
        ).alias("band_key"),
    )


def minhash_est_jaccard(sa, sb):
    """Signature-agreement Jaccard estimate between two sig columns."""
    return F.expr(
        f"size(filter(zip_with({sa}, {sb}, (x, y) -> x = y), v -> v)) / cast({MH_K} as double)"
    )


def hyperplanes(prefix: str, n: int) -> list[list[float]]:
    """``n`` deterministic pseudo-random hyperplanes of width
    ``EMBED_DIM``: coordinate j of plane p is ``h32(f"{prefix}{p}_{j}")``
    mapped onto [-1, 1] in steps of 0.001. Each plane set is named by its
    prefix, so independent LSH families never share planes."""
    return [
        [(h32(f"{prefix}{p}_{j}") % 2001 - 1000) / 1000.0 for j in range(EMBED_DIM)]
        for p in range(n)
    ]


# The plane set of embedding_lsh_ann and its recall/NDCG evaluations:
# 8 planes, 256 buckets.
ANN_PLANES = hyperplanes("", 8)


def bucket_col(planes: list[list[float]]) -> Column:
    """Spark bucket id of column ``emb`` (array<double>): the sum over
    planes i of ``2^i`` where ``emb · planes[i] > 0``."""
    bucket = None
    for i, plane in enumerate(planes):
        lits = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with("emb", lits, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        term = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket


def bucket_sql(planes: list[list[float]]) -> str:
    """DuckDB twin of ``bucket_col`` over a 1-based ``emb`` DOUBLE[].

    Explicit multiply-add per plane: DuckDB evaluates this as flat
    vectorized scalar arithmetic. A list_transform(range, j -> emb[j] *
    literal_list[j]) form re-materializes the literal plane list per
    element and ran ~29x slower (4.05 s -> 0.14 s for the bucket stage at
    sf0.01), pushing every composed eval oracle over the 5 s
    check_oracles budget."""
    return " + ".join(
        "(CASE WHEN ("
        + " + ".join(f"emb[{j + 1}] * ({plane[j]!r})" for j in range(len(plane)))
        + f") > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
