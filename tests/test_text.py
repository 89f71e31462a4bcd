"""functions.text annotation operators: repetition statistics on
planted docs, and how often each text is split in the optimized plans
of the lang-id, quality and stratified-sample queries."""

from __future__ import annotations

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
