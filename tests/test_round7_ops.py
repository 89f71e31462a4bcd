"""Round-7 scale-tail regression tests: the three latent 100 TB tails the
round-6 verdict flagged, each with a planted outlier that breaks (or
crawls under) the old formulation — a giant repetitive doc for the
self-dedup span filter, a long near-dup pair for thresholded Levenshtein,
and a string-id corpus for sequence packing."""

from __future__ import annotations

import time


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


def test_fuzzy_pairs_threshold_matches_unbounded_filter(spark):
    """3-arg thresholded levenshtein keeps exactly the pairs the unbounded
    distance + filter keeps, with the same distances — including a LONG
    near-dup pair (the case the banded early-exit kernel exists for) and a
    pair beyond the threshold (dropped, was -1 internally)."""
    from hadoop_tfidf_spark.operators.dedup import fuzzy_pairs

    long_a = ("lorem ipsum dolor sit amet " * 400).strip()  # ~10.8k chars
    long_b = long_a[:-4] + "amex"  # distance 1 (amet -> amex)
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_b), (3, "completely different text"), (4, "completely different texts")],
        "doc_id BIGINT, text STRING",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "doc_a BIGINT, doc_b BIGINT"
    )
    unbounded = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in fuzzy_pairs(docs, pairs).collect()
        if r.edit_dist <= 5
    }
    thresholded = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in fuzzy_pairs(docs, pairs, max_dist=5).collect()
    }
    assert thresholded == unbounded
    assert thresholded[(1, 2)] == 1 and thresholded[(3, 4)] == 1
    assert (1, 3) not in thresholded  # beyond max_dist → dropped, not -1


def test_pack_sequences_string_doc_ids(spark):
    """The planted outlier from ADVICE r6: STRING doc_ids (text-directory
    corpora). ``doc_id % n`` threw CAST_INVALID_INPUT under ANSI (and
    serialized everything into one NULL bucket under ANSI-off); the md5
    hash bucket must spread docs over multiple shards and stay
    deterministic."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(f"doc{i}.txt", "w " * (i % 7 + 1)) for i in range(64)],
        "doc_id STRING, text STRING",
    )
    rows = pack_sequences(docs, budget=8, n_buckets=4).collect()
    assert len(rows) == 64
    assert len({r.bucket for r in rows}) > 1  # not one serialized bucket
    assert all(0 <= r.bucket < 4 for r in rows)
    again = pack_sequences(docs, budget=8, n_buckets=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pack_sequences_bigint_ids_spread_and_pack(spark):
    """Hash bucketing on BIGINT ids: same running-sum packing semantics
    within a shard (pack boundaries every `budget` tokens, straddling
    allowed), pinned by recomputing the expected cum-sums per bucket."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "t " * 100) for i in range(32)], "doc_id BIGINT, text STRING"
    )
    rows = pack_sequences(docs, budget=256, n_buckets=4).collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) > 1
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_id == cum // 256 and r.offset_in_pack == cum % 256
            cum += r.n_tokens


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


def test_span_dedup_sliding_catches_offset_duplicates(spark):
    """A duplicated passage that starts MID-span of the fixed tiling is
    caught by the sliding form (stride 1 = every boundary) and missed by
    the fixed one — the point of the stride parameter; covered words
    drop, others survive. (stride s only aligns starts ≡ 1 mod s: the
    recall-vs-cost dial.)"""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    shared = "alpha beta gamma delta epsilon"  # 5-word duplicated passage
    docs = spark.createDataFrame(
        [
            # passage starts at word 2 (mid-tile) in doc 1, word 3 in doc 2
            (1, f"x {shared} y z w v u t"),
            (2, f"p q {shared} r s t u v"),
            (3, "nothing shared with anyone here at all"),
        ],
        "doc_id BIGINT, text STRING",
    )
    fixed = {r.doc_id: r for r in span_dedup(docs, span_words=5).collect()}
    assert fixed[1].n_dup_spans == 0  # tiling misses the offset passage
    sliding = {
        r.doc_id: r
        for r in span_dedup(docs, span_words=5, stride=1).collect()
    }
    assert sliding[1].n_dup_spans >= 1
    for w in shared.split():
        assert w not in sliding[1].clean_text.split()
        assert w not in sliding[2].clean_text.split()
    assert "x" in sliding[1].clean_text.split()  # uncovered word survives
    assert sliding[3].n_dup_spans == 0
    assert sliding[3].clean_text == "nothing shared with anyone here at all"


def test_span_dedup_sliding_rejects_bad_stride(spark):
    import pytest

    from hadoop_tfidf_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError):
        span_dedup(docs, span_words=5, stride=0)


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


def test_streaming_staging_dirs_registered_for_cleanup():
    """staging_dir() creates real dirs and registers them for atexit
    removal; manual cleanup empties the registry."""
    import os

    from hadoop_tfidf_spark.streaming.windows import (
        _STAGING_DIRS,
        _cleanup_staging_dirs,
        staging_dir,
    )

    before = list(_STAGING_DIRS)
    d = staging_dir("spark_graft_test_")
    assert os.path.isdir(d) and d in _STAGING_DIRS
    _cleanup_staging_dirs()
    assert not os.path.isdir(d) and not _STAGING_DIRS
    # earlier dirs from this session were removed too (best-effort)
    for p in before:
        assert not os.path.isdir(p)
