"""functions.text annotation operators: repetition statistics,
self-dedup spans, the C4 filters, co-occurrence, benchmark
contamination, per-source stats, n-gram novelty, the LM score and its
histogram on planted docs, and how often each text is split in the
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


def test_c4_filters_each_rule(spark):
    """One planted doc per rule violation; a clean doc keeps."""
    from hadoop_tfidf_spark.functions.text import c4_quality_filters

    good = (
        "the quick brown fox jumps over a lazy dog and then sprints "
        "across nine wide fields chasing three very fast rabbits home "
        "before dusk settles"
    )
    docs = spark.createDataFrame(
        [
            (1, good),                               # keep
            (2, "too short a doc"),                  # fails min_words
            (3, ("word " * 30 + "the a ").strip()),  # dup ratio ~1 → fails
            (4, ("x1 y2 z3 q4 " * 8 + "the a").strip()),  # mean len < 3
            (5, ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambdaa mu nu xi omicron pi rho sigma tau "
                 "upsilon phi chi psi omega one two") ),  # no stopwords
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in c4_quality_filters(docs).collect()}
    assert got[1].keep
    assert not got[2].pass_len and not got[2].keep
    assert not got[3].pass_dup and not got[3].keep
    assert not got[4].pass_word_len and not got[4].keep
    assert not got[5].pass_stop and not got[5].keep


def test_self_dedup_spans_first_occurrence_wins(spark):
    """Within-doc repeats trim to their first occurrence, in order;
    unique docs pass through; empty docs yield empty output."""
    from hadoop_tfidf_spark.functions.text import self_dedup_spans

    docs = spark.createDataFrame(
        [(1, "a b a b c d a b"), (2, "x y z"), (3, "")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in self_dedup_spans(docs, span_words=2).collect()}
    assert (got[1].n_spans, got[1].n_repeated) == (4, 2)
    assert got[1].clean_text == "a b c d"
    assert got[2].n_repeated == 0 and got[2].clean_text == "x y z"
    assert (got[3].n_spans, got[3].clean_text) == (0, "")


def test_decontaminate_drops_overlapping_docs(spark):
    """A doc sharing most shingles with the benchmark is dropped; a
    clean doc and a too-short doc (no shingle evidence) are kept."""
    from hadoop_tfidf_spark.functions.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # = bench
            (2, "completely unrelated training text goes here"),
            (3, "hi there"),  # < k words: no evidence, kept
        ],
        "doc_id BIGINT, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over anything")],
        "doc_id BIGINT, text STRING",
    )
    kept = sorted(r.doc_id for r in decontaminate(docs, bench, k=3, max_overlap=0.3).collect())
    assert kept == [2, 3]


def test_source_stats_hand_computed(spark):
    from hadoop_tfidf_spark.functions.text import source_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "a a", "de", "s1"),
            (3, "x", "en", "s2"),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    out = {r["source"]: r for r in source_stats(docs).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 2 and s1["n_tokens"] == 5
    assert s1["vocab"] == 3  # {a, b, c}
    assert s1["n_langs"] == 2
    assert abs(s1["avg_tokens"] - 2.5) < 1e-9
    s2 = out["s2"]
    assert s2["n_docs"] == 1 and s2["vocab"] == 1 and s2["n_langs"] == 1


def test_source_stats_empty_text_counts_doc_not_tokens(spark):
    from hadoop_tfidf_spark.functions.text import source_stats

    docs = spark.createDataFrame(
        [(1, "", "en", "s"), (2, "w", "en", "s")],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    r = source_stats(docs).first()
    assert r["n_docs"] == 2 and r["n_tokens"] == 1 and r["vocab"] == 1


def test_ngram_novelty_hand_computed(spark):
    """doc1/doc2 share exactly one trigram ('b c d'); doc3 is fully
    novel; doc4 is too short to have any trigram and emits no row."""
    from hadoop_tfidf_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),  # grams: 'a b c', 'b c d'
            (2, "b c d e"),  # grams: 'b c d', 'c d e'
            (3, "p q r"),  # gram: 'p q r'
            (4, "x y"),  # no trigram
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_grams"] == 2 and out[1]["n_shared"] == 1
    assert abs(out[1]["novelty"] - 0.5) < 1e-9
    assert out[2]["n_shared"] == 1
    assert out[3]["n_grams"] == 1 and out[3]["n_shared"] == 0
    assert abs(out[3]["novelty"] - 1.0) < 1e-9


def test_ngram_novelty_repeated_gram_in_one_doc_is_not_shared(spark):
    """A gram repeated WITHIN one doc only (distinct per doc) keeps
    df=1 — novelty is about cross-document sharing."""
    from hadoop_tfidf_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "z z z z")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    # doc1 grams: 'a b c','b c a','c a b','a b c' -> 3 distinct, df=1 each
    assert out[1]["n_grams"] == 3 and out[1]["n_shared"] == 0
    # doc2: 'z z z' x2 -> 1 distinct
    assert out[2]["n_grams"] == 1 and out[2]["n_shared"] == 0
