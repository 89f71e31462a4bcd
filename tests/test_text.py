"""functions.text annotation operators: repetition statistics,
self-dedup spans, the C4 filters, co-occurrence, benchmark
contamination, the LM score and its histogram on planted docs, and how often each text is split in the
optimized plans of the lang-id, quality and stratified-sample
queries."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.text import cooccurrence
from tests.conftest import SF_DIR_SMOKE


def _splits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("split(")


def test_repetition_score_hand_computed(spark):
    """Planted docs: a loop-generated page scores high on both ratios, a
    diverse doc scores 0, a 2-word doc gets a NULL gram ratio."""
    from hadoop_tfidf_spark.functions.text import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),  # 6 words, 2 distinct
            (2, "the quick brown fox"),      # all distinct
            (3, "hi there"),                 # < 3 words: no grams
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in repetition_score(docs).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_distinct_words) == (6, 2)
    assert abs(r1.word_dup_ratio - (1 - 2 / 6)) < 1e-6
    # 4 trigrams: "buy now buy","now buy now","buy now buy","now buy now"
    assert r1.n_grams == 4 and abs(r1.gram_dup_ratio - 0.5) < 1e-6
    r2 = got[2]
    assert r2.word_dup_ratio == 0.0 and r2.gram_dup_ratio == 0.0
    r3 = got[3]
    assert r3.n_grams == 0 and r3.gram_dup_ratio is None


def test_lang_id_splits_each_text_once(spark):
    """All five marker-hit counts read one staged word array."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.functions.text import lang_id

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    assert _splits(lang_id(docs)) == 1


def test_quality_score_splits_each_text_once(spark):
    """Token count, stopword count and the score read one staged word
    array."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.functions.text import quality_score

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    assert _splits(quality_score(docs)) == 1


def test_stratified_sample_splits_each_text_once_per_use(spark):
    """The sample filter is pushed beneath the lang-id projection and
    inlines ``pred_lang``; the lambda-bound word array keeps each
    inlined copy at one split (3 in all, 30 when every marker count
    re-splits the text)."""
    from hadoop_tfidf_spark.extensions import q_text_stratified_sample

    assert _splits(q_text_stratified_sample(spark, SF_DIR_SMOKE)) == 3


def test_self_dedup_first_occurrence_semantics(spark):
    """array_distinct keeps the FIRST occurrence of each span in order —
    identical semantics to the old quadratic filter, pinned by hand."""
    from hadoop_tfidf_spark.functions.text import self_dedup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b e f c d"),  # spans: "a b","c d","a b","e f","c d"
            (2, "x y"),
            (3, ""),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in self_dedup_spans(docs, span_words=2).collect()}
    assert got[1].n_spans == 5 and got[1].n_repeated == 2
    assert got[1].clean_text == "a b c d e f"
    assert got[2].n_spans == 1 and got[2].n_repeated == 0
    assert got[3].n_spans == 0 and got[3].clean_text == ""


def test_self_dedup_giant_doc_is_linear(spark):
    """The planted outlier: one 100k-word doc made of a repeated 4-word
    loop — 50k spans. The old ``filter(array_position == i+1)`` pass was
    O(spans²) ≈ 2.5e9 comparisons on ONE task row; the array_distinct
    form is a single linear hash-set pass and must finish in seconds."""
    from hadoop_tfidf_spark.functions.text import self_dedup_spans

    giant = "one two three four " * 25_000  # 100k words, 50k 2-word spans
    docs = spark.createDataFrame(
        [(1, giant.strip()), (2, "tiny doc here now")],
        "doc_id BIGINT, text STRING",
    )
    t0 = time.time()
    got = {r.doc_id: r for r in self_dedup_spans(docs, span_words=2).collect()}
    assert time.time() - t0 < 60  # old quadratic form: hours
    # spans alternate "one two" / "three four"; only the first of each kept
    assert got[1].n_spans == 50_000
    assert got[1].n_repeated == 49_998
    assert got[1].clean_text == "one two three four"
    assert got[2].n_repeated == 0


def test_c4_filters_zero_word_doc_gets_keep_false_row(spark):
    """A zero-word doc now emits an explicit keep=false verdict row (NULL
    ratios, all flags false) instead of silently vanishing."""
    from hadoop_tfidf_spark.functions.text import c4_quality_filters

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "some real words here in the doc")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in c4_quality_filters(docs).collect()}
    assert set(got) == {1, 2, 3}  # empty docs present
    for d in (1, 2):
        assert got[d].n_words == 0
        assert got[d].mean_word_len is None
        assert not got[d].keep
        assert not (got[d].pass_word_len or got[d].pass_dup or got[d].pass_stop)
    assert got[3].n_words == 7


def test_cooccurrence_cap_truncates_deterministically(spark):
    """max_doc_vocab keeps the FIRST n distinct tokens in document order:
    pairs involving later-vocabulary tokens vanish, earlier pairs keep
    their counts."""
    from hadoop_tfidf_spark.functions.text import cooccurrence

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y")], "doc_id BIGINT, text STRING"
    )
    full = {(r.w1, r.w2): r.n for r in cooccurrence(docs, top=100).collect()}
    capped = {
        (r.w1, r.w2): r.n
        for r in cooccurrence(docs, top=100, max_doc_vocab=2).collect()
    }
    assert capped == {("a", "b"): 2}  # only the first-2 vocab pair survives
    assert full[("a", "b")] == 2 and ("c", "d") in full


def test_lm_histogram_buckets_and_shares(spark):
    """Histogram buckets are floor(score/width), shares sum to 1 over
    scored docs, and docs without bigrams (NULL score) are excluded."""
    from hadoop_tfidf_spark.functions.text import lm_score, lm_score_histogram

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "a b c d e f"),
            (3, "z z z z"),
            (4, "solo"),  # < 2 words -> NULL score, excluded
        ],
        "doc_id BIGINT, text STRING",
    )
    hist = lm_score_histogram(docs, bucket_width=0.25).collect()
    scored = {
        r.doc_id: r.lm_score
        for r in lm_score(docs).collect()
        if r.lm_score is not None
    }
    assert len(scored) == 3
    import math

    expected_buckets = {math.floor(v / 0.25) for v in scored.values()}
    assert {r.bucket for r in hist} == expected_buckets
    assert sum(r.n_docs for r in hist) == 3
    assert abs(sum(r.doc_share for r in hist) - 1.0) < 1e-6


def test_cooccurrence_counts_pairs_once_per_doc(spark):
    docs = spark.createDataFrame(
        [("d1", "a b a"), ("d2", "b a"), ("d3", "c")], "doc_id STRING, text STRING"
    )
    rows = cooccurrence(docs, top=10).collect()
    assert [(r.w1, r.w2, r.n) for r in rows] == [("a", "b", 2)]


def test_cooccurrence_max_doc_vocab_caps_giant_doc(spark):
    """A planted giant-vocabulary doc must not explode quadratically: with
    the cap, only its first ``max_doc_vocab`` distinct tokens (document
    order) pair up; normal docs are untouched."""
    giant = " ".join(f"w{i:04d}" for i in range(1000))
    docs = spark.createDataFrame(
        [("g", giant), ("d1", "a b"), ("d2", "a b")],
        "doc_id STRING, text STRING",
    )
    capped = cooccurrence(docs, top=10_000, max_doc_vocab=3).collect()
    got = {(r.w1, r.w2): r.n for r in capped}
    # giant doc contributes exactly C(3,2)=3 pairs from its first 3 tokens
    assert got[("a", "b")] == 2
    assert got[("w0000", "w0001")] == 1
    assert got[("w0000", "w0002")] == 1
    assert got[("w0001", "w0002")] == 1
    assert len(got) == 4
    # uncapped default is unchanged semantics: the giant doc alone yields
    # C(1000,2) pairs — checked by count, not materialized comparison
    n_uncapped = (
        cooccurrence(docs.where(F.col("doc_id") == "g"), top=1).collect()[0].n
    )
    assert n_uncapped == 1


def test_contamination_bounds_and_self_overlap(spark):
    from hadoop_tfidf_spark.functions.text import contamination_check

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c"), (3, "x y z w")],
        "doc_id BIGINT, text STRING",
    )
    bench = spark.createDataFrame([(9, "a b c")], "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in contamination_check(docs, bench, k=3).collect()}
    # doc 1: shingles {a b c, b c d} → 1 hit of 2; doc 2 fully contained;
    # doc 3 disjoint
    assert out[1].n_shingles == 2 and out[1].n_hits == 1
    assert abs(out[1].overlap_ratio - 0.5) < 1e-9
    assert out[2].overlap_ratio == 1.0
    assert out[3].n_hits == 0 and out[3].overlap_ratio == 0.0


def test_lm_score_hand_computed(spark):
    """Bigram-LM scores against hand-computed add-0.5-smoothed values:
    p(a b)=2.5/3, p(b a)=1.5/2 on the 3-bigram corpus; a 1-word doc gets
    0 bigrams and NULL score."""
    import math

    from hadoop_tfidf_spark.functions.text import lm_score

    docs = spark.createDataFrame(
        [("d1", "a b a"), ("d2", "a b"), ("d3", "a")],
        "doc_id STRING, text STRING",
    )
    got = {r.doc_id: (r.n_bigrams, r.lm_score) for r in lm_score(docs).collect()}
    # integer micro-log quantization, exactly as the operator computes
    lpu_ab = round(math.log10(2.5 / 3.0) * 1e6)
    lpu_ba = round(math.log10(1.5 / 2.0) * 1e6)
    assert got["d1"] == (2, round(((lpu_ab + lpu_ba) / 2) / 1e6, 6))
    assert got["d2"] == (1, round((lpu_ab / 1) / 1e6, 6))
    assert got["d3"] == (0, None)
