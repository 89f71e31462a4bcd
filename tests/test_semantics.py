"""Semantics unit tests pinned to reference quirks (SURVEY.md §5.2):
tokenizer behavior, duplicate-query double-counting, integer-division IDF
boundaries, tf of a hapax, empty-token drop; plus hand-computed BM25 and
document-similarity values."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import REFERENCE_TOKEN_PATTERN, tokenize
from hadoop_tfidf_spark.search import query_term_bag, rank, search
from hadoop_tfidf_spark.tfidf import doc_word_count, term_frequency, tfidf
from tests.conftest import SF_DIR_SMOKE, cached_rdd_ids


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _tok(spark, text):
    out = tokenize(_docs(spark, [("d1", text)]), REFERENCE_TOKEN_PATTERN)
    return [r.word for r in out.orderBy("word").collect()]


class TestReferenceTokenizer:
    """The \\s*\\b\\s* tokenizer (DocWordCount.java:49) — Spark runs the
    same JVM regex, so these pin the verified reference behaviors."""

    def test_punctuation_runs_are_terms(self, spark):
        assert sorted(_tok(spark, "Hello, world!")) == [",", "!", "Hello", "world"] or \
            set(_tok(spark, "Hello, world!")) == {",", "!", "Hello", "world"}

    def test_case_sensitive(self, spark):
        words = _tok(spark, "Hello hello")
        assert words == ["Hello", "hello"]

    def test_apostrophe_splits(self, spark):
        assert set(_tok(spark, "don't")) == {"don", "'", "t"}

    def test_underscore_is_word_char(self, spark):
        assert _tok(spark, "im_port") == ["im_port"]

    def test_number_with_decimal_splits(self, spark):
        assert set(_tok(spark, "3.14")) == {"3", ".", "14"}

    def test_empty_tokens_dropped(self, spark):
        words = _tok(spark, "  a   b  ")
        assert "" not in words and set(words) == {"a", "b"}


class TestTokenizerFidelity:
    def test_reference_tokenizer_degenerates_to_space_split(self, spark):
        """On FIXTURES.md-constrained text (word-chars joined by single
        spaces) the reference \\s*\\b\\s* tokenizer and a plain space split
        must agree — the invariant that makes the DuckDB oracle valid."""
        texts = [
            "alpha beta_2 Gamma gamma 42 under_score",
            "a b c d e",
            "Data data DATA",
        ]
        docs = _docs(spark, [(f"d{i}", t) for i, t in enumerate(texts)])
        ref = tokenize(docs, REFERENCE_TOKEN_PATTERN).orderBy("doc_id", "word")
        sp = tokenize(docs, " ").orderBy("doc_id", "word")
        assert [tuple(r) for r in ref.collect()] == [tuple(r) for r in sp.collect()]


class TestTfIdfSemantics:
    def test_hapax_tf_is_one(self, spark):
        """tf = 1 + log10(1) = 1.0 for a once-occurring word
        (TermFrequency.java:81)."""
        tf = term_frequency(
            doc_word_count(tokenize(_docs(spark, [("d1", "alpha beta")]), " "))
        )
        vals = {r.word: r.tf for r in tf.collect()}
        assert vals["alpha"] == 1.0 and vals["beta"] == 1.0

    def test_integer_division_idf(self, spark):
        """idf(numDocs=5, df=2) = log10(1 + floor(5/2)) = log10(3), NOT
        log10(3.5) (Java int/int at TFIDF.java:163)."""
        rows = [
            ("d1", "x common"), ("d2", "x common"), ("d3", "common"),
            ("d4", "common"), ("d5", "common"),
        ]
        out = tfidf(_docs(spark, rows), tokenizer_pattern=" ")
        x = [r for r in out.collect() if r.word == "x"][0]
        assert x.df == 2
        assert x.tfidf == pytest.approx(1.0 * math.log10(1 + 5 // 2))

    def test_exact_idf_flag(self, spark):
        rows = [
            ("d1", "x common"), ("d2", "x common"), ("d3", "common"),
            ("d4", "common"), ("d5", "common"),
        ]
        out = tfidf(_docs(spark, rows), tokenizer_pattern=" ", exact_idf=True)
        x = [r for r in out.collect() if r.word == "x"][0]
        assert x.tfidf == pytest.approx(math.log10(1 + 5 / 2))

    def test_df_equals_numdocs_gives_log2(self, spark):
        """Word in every doc: idf = log10(1 + N/N) = log10(2) > 0 — the
        reference never zeroes out ubiquitous words."""
        rows = [("d1", "t"), ("d2", "t")]
        out = tfidf(_docs(spark, rows), tokenizer_pattern=" ")
        t = out.collect()[0]
        assert t.tfidf == pytest.approx(math.log10(2))

    def test_num_docs_override(self, spark):
        """numDocs is a user-supplied scalar in the reference (CLI args[3],
        TFIDF.java:58) — the override must win over the corpus count."""
        rows = [("d1", "x")]
        out = tfidf(_docs(spark, rows), tokenizer_pattern=" ", num_docs=100)
        assert out.collect()[0].tfidf == pytest.approx(math.log10(1 + 100))


class TestSearchSemantics:
    def test_duplicate_query_term_double_counts(self, spark):
        """Repeated query term scores twice (//break; commented out,
        Search.java:230)."""
        docs = _docs(spark, [("d1", "spark spark data"), ("d2", "data lake")])
        t = tfidf(docs, tokenizer_pattern=" ")
        single = query_term_bag(spark, [("q", "spark")])
        double = query_term_bag(spark, [("q", "spark spark")])
        s1 = search(t, single).collect()[0].score
        s2 = search(t, double).collect()[0].score
        assert s2 == pytest.approx(2 * s1)

    def test_dedupe_query_flag(self, spark):
        docs = _docs(spark, [("d1", "spark data")])
        t = tfidf(docs, tokenizer_pattern=" ")
        bag = query_term_bag(spark, [("q", "spark spark")])
        s_set = search(t, bag, dedupe_query=True).collect()[0].score
        s_bag = search(t, bag).collect()[0].score
        assert s_bag == pytest.approx(2 * s_set)

    @pytest.mark.parametrize(
        "queries",
        [[], [("q", "")], [("q", "zzzmissing qqqabsent")]],
        ids=["empty_list", "empty_string", "all_oov"],
    )
    def test_empty_and_oov_queries_rank_no_rows(self, spark, queries):
        """No query, an empty query string and an all-out-of-vocabulary
        query each answer 0 rows through search + rank instead of
        raising (an empty list used to fail schema inference)."""
        t = tfidf(_docs(spark, [("d1", "spark data")]), tokenizer_pattern=" ")
        bag = query_term_bag(spark, queries)
        assert rank(search(t, bag)).count() == 0

    def test_rank_is_permutation_of_search(self, spark):
        docs = _docs(spark, [("d1", "a b"), ("d2", "a"), ("d3", "b c")])
        t = tfidf(docs, tokenizer_pattern=" ")
        s = search(t, query_term_bag(spark, [("q", "a b")]))
        r = rank(s)
        s_rows = {(x.query_id, x.doc_id, x.score) for x in s.collect()}
        r_rows = {(x.query_id, x.doc_id, x.score) for x in r.collect()}
        assert s_rows == r_rows
        rnks = sorted(x.rnk for x in r.collect())
        assert rnks == list(range(1, len(rnks) + 1))


@pytest.mark.parametrize(
    "kwargs", [{}, {"persist_intermediate": True}],
    ids=["default", "persist_keyword"],
)
def test_tfidf_leaves_nothing_in_storage(spark, tmp_path, kwargs):
    """A written tfidf run persists nothing, with or without the ignored
    ``persist_intermediate`` keyword: no RDD it created is still held in
    storage afterwards. The cache is cleared first only so that a
    relation cached earlier cannot stand in for this run's."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.sinks import write_parquet

    spark.catalog.clearCache()
    pre = cached_rdd_ids(spark)
    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    write_parquet(tfidf(docs, **kwargs), str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out")).count() > 0
    assert cached_rdd_ids(spark) - pre == frozenset()


def test_doc_similarity_identical_docs_score_one(spark):
    from hadoop_tfidf_spark.search import doc_similarity
    from hadoop_tfidf_spark.tfidf import tfidf

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon")],
        "doc_id BIGINT, text STRING",
    )
    out = {(r.doc_a, r.doc_b): r.cos_sim
           for r in doc_similarity(tfidf(docs), k=10).collect()}
    # identical docs → cosine 1; disjoint vocab docs never pair
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out and (2, 3) not in out


def test_reference_tokenizer_equals_space_split_on_wordchar_text(spark):
    """On the gate precondition (word-char tokens, single spaces) the Java
    `\\s*\\b\\s*` split and the space split emit the same rows; text that
    violates the precondition is excluded by the gate filter."""
    from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, tokenize
    from hadoop_tfidf_spark.declared import _WORDCHAR_TEXT

    docs = spark.createDataFrame(
        [
            ("d1", "hello world_2 x9"),
            ("d2", "single"),
            ("d3", "don't punct,uate"),  # violates the precondition
        ],
        "doc_id STRING, text STRING",
    )
    guarded = docs.where(F.col("text").rlike(_WORDCHAR_TEXT))
    ref = {(r.doc_id, r.word) for r in tokenize(guarded).collect()}
    space = {
        (r.doc_id, r.word)
        for r in tokenize(guarded, SPACE_TOKEN_PATTERN).collect()
    }
    assert ref == space
    assert {d for d, _ in ref} == {"d1", "d2"}
    # and on the violating doc the two tokenizers genuinely differ —
    # the guard is load-bearing, not decorative
    bad = docs.where(F.col("doc_id") == "d3")
    ref_bad = [r.word for r in tokenize(bad).collect()]
    space_bad = [r.word for r in tokenize(bad, SPACE_TOKEN_PATTERN).collect()]
    assert ref_bad != space_bad


def test_bm25_hand_computed_values(spark):
    """BM25 (k1=1.2, b=0.75) against hand-computed scores on a 2-doc
    corpus: idf(a)=ln(1.2), idf(b)=ln(2); tf_c from dl/avgdl; distinct
    query terms (a duplicated term must NOT double-count)."""
    from hadoop_tfidf_spark.search import bm25, query_term_bag
    from hadoop_tfidf_spark.tfidf import doc_word_count
    from hadoop_tfidf_spark.corpus import tokenize

    docs = spark.createDataFrame(
        [("d1", "a b"), ("d2", "a")], "doc_id STRING, text STRING"
    )
    dwc = doc_word_count(tokenize(docs, " "))
    bag = query_term_bag(spark, [("q", "a b a")])  # 'a' duplicated
    got = {
        r.doc_id: r.score
        for r in bm25(dwc, bag).collect()
    }
    import math
    idf_a, idf_b = math.log(1.2), math.log(2.0)
    want_d1 = round(idf_a * 0.88, 6) + round(idf_b * 0.88, 6)
    want_d2 = round(idf_a * (2.2 / 1.9), 6)
    assert got["d1"] == pytest.approx(want_d1, abs=1e-9)
    assert got["d2"] == pytest.approx(want_d2, abs=1e-9)
