"""``pipeline.curate_corpus``: per-stage planted fixtures, the semantic
stage, and the shape of its one plan (one text split per document, one
exact-dedup aggregation, nothing left in storage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE, cached_rdd_ids


def test_curate_corpus_planted_fixtures(spark):
    """Each pipeline stage drops exactly the doc planted for it: the
    non-English doc, the low-quality doc, the exact duplicate (higher id),
    and the near-duplicate (higher id); survivors carry deterministic
    split labels that are a pure function of doc_id."""
    from hadoop_tfidf_spark.operators.sampling import hash_bucket_col
    from hadoop_tfidf_spark.pipeline import curate_corpus

    # ~60 tokens, heavy in 'the/a/of/and/is/to' → en, quality >= 0.5
    good = ("the cat is a friend of the dog and the bird is to the east "
            "of the barn and the sun is a lamp of the sky and the moon "
            "is to the west of the hill and the fox is a guest of the "
            "field and the owl is to the north")
    near = good + " extra trailing words here"
    rows = [
        (1, good),                       # survivor
        (2, good),                       # exact dup of 1 → dropped
        (3, near),                       # near-dup of 1 (shares shingles) → dropped
        (4, "der hund und die katze ist nicht das pferd und der vogel"),  # de
        (5, "qq ww ee rr tt yy"),        # en-marker-free AND low quality → dropped
        (6, "the fish is a king of the sea and the crab is to the shore "
            "and the whale is a giant of the deep and the gull is to the "
            "wind and the seal is a child of the wave and the tide is to "
            "the moon and the reef is a home of the coral"),  # survivor
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = curate_corpus(docs).collect()
    got = {r.doc_id: (r.pred_lang, r.split) for r in out}
    assert set(got) == {1, 6}
    assert all(lang == "en" for lang, _ in got.values())
    # split label is the content-addressed bucket — recompute independently
    buckets = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", hash_bucket_col(F.col("doc_id")).alias("b")
        ).collect()
    }
    for doc_id, (_, split) in got.items():
        b = buckets[doc_id]
        want = "train" if b < 90 else ("valid" if b < 95 else "test")
        assert split == want


def test_curate_semantic_stage_drops_planted_twin(spark):
    """curate_corpus(embeddings=...): the SemDeDup stage drops the doc
    whose embedding is a near-identical copy of a lower-id doc's
    embedding, leaves semantically distinct docs alone, and composes
    with the lexical stages (distinct TEXTS here, so only the semantic
    stage can catch the pair)."""
    import random

    from hadoop_tfidf_spark.pipeline import curate_corpus

    rng = random.Random(5)
    docs, vecs = [], []
    for i in range(12):
        # English markers carry lang-id; a unique token between every
        # marker pair makes all 3-gram shingles doc-unique, so the
        # lexical LSH stage sees no near-dups at all
        words = []
        for j in range(6):
            words += ["the", f"a{i}x{j}", "and", f"b{i}x{j}", "of",
                      f"c{i}x{j}"]
        docs.append((i, " ".join(words)))
        vecs.append((i, [rng.uniform(-1, 1) * 8 for _ in range(8)]))
    # doc 11's embedding = near-copy of doc 2's (a semantic twin)
    vecs[11] = (11, [x + rng.uniform(-0.001, 0.001) for x in vecs[2][1]])
    docs_df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    emb_df = spark.createDataFrame(
        vecs, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    plain = {
        r.doc_id
        for r in curate_corpus(docs_df, min_quality=0.0).collect()
    }
    sem = {
        r.doc_id
        for r in curate_corpus(
            docs_df,
            min_quality=0.0,
            embeddings=emb_df,
            semantic_k=2,
            semantic_threshold=0.9999,
        ).collect()
    }
    assert plain == set(range(12))  # lexical stages keep all
    assert sem == plain - {11}      # only the semantic twin drops


def test_curate_semantic_stage_keeps_docs_without_embeddings(spark):
    """The semantic stage is a DEDUP, not a coverage filter: a doc with
    no row in the embeddings table must survive (anti-join against the
    drop set), while a genuine within-cell near-duplicate still drops."""
    from hadoop_tfidf_spark.pipeline import curate_corpus

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "she said that the meeting was moved to the other room"
    third = "it was the best of times and it was the worst of times"
    docs = spark.createDataFrame(
        [(1, text), (2, other), (3, third)],
        "doc_id BIGINT, text STRING",
    )
    # identical embeddings for 1 and 2 -> SemDeDup drops the higher id
    # (2); doc 1 keeps. Doc 3 has NO embedding row at all.
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    base = {
        r.doc_id
        for r in curate_corpus(docs, min_quality=0.0).select("doc_id").collect()
    }
    got = {
        r.doc_id
        for r in curate_corpus(
            docs,
            min_quality=0.0,
            embeddings=emb,
            semantic_k=1,
            semantic_iters=1,
            semantic_threshold=0.99,
        )
        .select("doc_id")
        .collect()
    }
    assert 3 in base
    assert 3 in got, "doc without an embedding row must survive the stage"
    assert 2 in base and 2 not in got  # the true semantic dup still drops
    assert 1 in got


@pytest.mark.parametrize(
    "kwargs",
    [{}, {"keep_text": True}, {"max_bucket_size": 8}],
    ids=["default", "keep_text", "capped"],
)
def test_curate_leaves_nothing_in_storage(spark, tmp_path, kwargs):
    """A written curation run persists nothing: no RDD it created is
    still held in storage afterwards. The cache is cleared first only so
    that a relation cached earlier cannot stand in for this run's."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.pipeline import curate_corpus
    from hadoop_tfidf_spark.sinks import write_parquet

    spark.catalog.clearCache()
    pre = cached_rdd_ids(spark)
    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    write_parquet(curate_corpus(docs, **kwargs), str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out")).count() > 0
    assert cached_rdd_ids(spark) - pre == frozenset()


def test_curate_keep_text_is_the_same_plan(spark):
    """``keep_text=True`` only carries ``text`` through: with it dropped,
    the rows equal the default run's, row for row."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.pipeline import curate_corpus

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    with_text = curate_corpus(docs, keep_text=True)
    assert with_text.columns == ["doc_id", "text", "pred_lang", "quality", "split"]
    got = sorted(with_text.drop("text").collect())
    want = sorted(curate_corpus(docs).collect())
    assert got and got == want


def test_curate_splits_each_text_once_per_branch(spark):
    """The optimized plan holds 2 ``split(`` calls: the annotate
    projection under each of the kept relation's two references (the
    final anti-join and the bucket window, which reads the kept rows'
    signatures instead of re-shingling the corpus). Quality, lang-id and
    the MinHash signature all read the staged word array instead of
    re-splitting."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.pipeline import curate_corpus

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    plan = curate_corpus(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 2


@pytest.mark.parametrize("cap", [8, 2])
def test_curate_capped_rows_equal_lsh_over_kept_corpus(spark, cap):
    """With a bucket-size cap, curation keeps exactly the rows of a
    reference built from public operators: filter on lang-id and
    quality, exact dedup, ``minhash_lsh_dedup`` over that kept corpus
    with the same cap, then dropping the higher id of each pair."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.functions.text import lang_id_columns, quality_column
    from hadoop_tfidf_spark.operators.dedup import exact_dedup_apply, minhash_lsh_dedup
    from hadoop_tfidf_spark.pipeline import curate_corpus

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    text = F.col("text")
    kept = exact_dedup_apply(
        docs.where((lang_id_columns(text)[0] == "en") & (quality_column(text) >= 0.5))
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    near = {r.doc_b for r in minhash_lsh_dedup(kept, max_bucket_size=cap).collect()}
    got = {r.doc_id for r in curate_corpus(docs, max_bucket_size=cap).collect()}
    assert got == kept_ids - near
    assert near & kept_ids and got


def test_exact_dedup_keeps_lowest_passing_copy(spark):
    """Filter-then-dedup in one aggregation: where two rows share ``_h``
    and the lower id fails the filter, the higher passing id survives.
    Identical texts cannot build this case (same text, same scores), so
    the annotated relation is hand-built."""
    from hadoop_tfidf_spark.pipeline import _exact_dedup

    ann = spark.createDataFrame(
        [
            (1, "h1", 0.2, "en", "a"),  # fails quality, lower id
            (2, "h1", 0.9, "en", "b"),  # passes → survives
            (3, "h1", 0.9, "en", "c"),  # passes, higher id → dropped
            (4, "h2", 0.9, "de", "d"),  # fails lang
            (5, "h2", 0.1, "en", "e"),  # fails quality: group drops
            (6, "h3", 0.8, "en", "f"),  # alone, passes
            (7, "h4", None, "en", "g"),  # NULL score fails like where()
        ],
        "doc_id BIGINT, _h STRING, quality DOUBLE, pred_lang STRING, text STRING",
    )
    got = sorted(_exact_dedup(ann, "en", 0.5).collect())
    assert [tuple(r) for r in got] == [(2, 0.9, "en", "b"), (6, 0.8, "en", "f")]
    assert _exact_dedup(ann, "en", 0.5).columns == [
        "doc_id", "quality", "pred_lang", "text"
    ]
