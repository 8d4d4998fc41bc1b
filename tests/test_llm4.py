"""Wave-4 curation operators: PII patterns must fire on real positives
(the testdata corpus contains none), repetition/contamination metrics
must agree with hand-computed values on synthetic docs."""

import pytest
import pyspark.sql.functions as F

from ecommerce_lakehouse_spark.operators.text import EMAIL as _EMAIL, IPV4 as _IPV4, PHONE as _PHONE


def test_pii_patterns_fire_on_positives(spark):
    rows = [
        ("reach bob@example.com or alice.smith+x@test.org", 2, 0, 0),
        ("call 555-123-4567 or 555 987 6543", 0, 2, 0),
        ("hosts 10.0.0.1 and 192.168.1.254 up", 0, 0, 2),
        ("nothing sensitive here", 0, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in rows], "text string")

    def n(pat):
        return F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))

    got = df.select(n(_EMAIL).alias("e"), n(_PHONE).alias("p"), n(_IPV4).alias("i")).collect()
    for (txt, e, p, i), r in zip(rows, got):
        assert (r.e, r.p, r.i) == (e, p, i), txt


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_repetition_profile_hand_computed(spark, tmp_path, sf_dir):
    # "a b a b a": bigrams [a b, b a, a b, b a] -> 4 total, 2 distinct,
    # dup ratio 0.5; top word 'a' appears 3/5
    import os

    doc = spark.createDataFrame(
        [(0, "a b a b a", "en", "s", 9)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    d = str(tmp_path / "mini")
    os.makedirs(d, exist_ok=True)
    doc.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from ecommerce_lakehouse_spark.queries.llm4 import repetition_profile

    r = repetition_profile(spark, d).collect()[0]
    assert r.n_words == 5 and r.n_bigrams == 4 and r.n_distinct_bigrams == 2
    assert r.dup_bigram_ratio == 0.5 and r.top_word_share == 0.6


@pytest.mark.slow  # demoted r10 (VERDICT r09 #4): oracle/property coverage kept in the release gate
def test_ngram_contamination_flags_copied_doc(spark, tmp_path):
    # doc 1 copies eval doc 0's text -> containment 1.0; doc 2 disjoint
    import os

    rows = [
        (0, "w1 w2 w3 w4 w5 w6"),     # eval (doc_id % 100 == 0)
        (1, "w1 w2 w3 w4 w5 w6"),     # train, fully contaminated
        (2, "x1 x2 x3 x4 x5 x6 x7"),  # train, clean
    ]
    doc = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    d = str(tmp_path / "mini2")
    os.makedirs(d, exist_ok=True)
    doc.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from ecommerce_lakehouse_spark.queries.llm4 import ngram_contamination

    got = {r.doc_id: r for r in ngram_contamination(spark, d).collect()}
    assert set(got) == {1, 2}
    assert got[1].containment == 1.0 and got[1].n_grams == 2
    assert got[2].containment == 0.0 and got[2].n_contaminated == 0
