"""Machinery tests for the dedup / similarity operators on crafted inputs —
the declared-query oracles prove engine parity; these prove the operators
actually FIND planted duplicates and neighbors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators import dedup as D
from hadoop_tfidf_spark.operators import similarity as S
from tests.conftest import SF_DIR_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late evening sun"
)  # one word differs
UNRELATED = (
    "completely different subject matter about distributed query engines "
    "and columnar storage formats for analytical workloads"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, UNRELATED)],
        ["doc_id", "text"],
    )


class TestExactDedup:
    def test_groups_exact_duplicates(self, spark, corpus):
        groups = {r.keep_doc_id: r.dup_count for r in D.exact_dedup(corpus).collect()}
        assert groups[1] == 2  # docs 1,2 identical
        assert groups[3] == 1 and groups[4] == 1

    def test_apply_keeps_canonical(self, spark, corpus):
        kept = sorted(r.doc_id for r in D.exact_dedup_apply(corpus).collect())
        assert kept == [1, 3, 4]


class TestMinHashLSH:
    def test_finds_planted_near_dups(self, spark, corpus):
        pairs = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_dedup(corpus).collect()}
        assert (1, 2) in pairs  # identical docs always collide
        assert (1, 3) in pairs and (2, 3) in pairs  # 1-word-off near-dup
        assert not any(4 in p for p in pairs)  # unrelated never pairs

    def test_jaccard_exact_values(self, spark, corpus):
        pairs = D.minhash_lsh_dedup(corpus)
        jac = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in D.ngram_jaccard(corpus, pairs).collect()
        }
        assert jac[(1, 2)] == 1.0
        # one word differs → k=3 shingles: 19 total per doc, 3 broken
        assert 0.5 < jac[(1, 3)] < 1.0


class TestCanonicalization:
    def test_one_hop_star_is_not_fixpoint_on_chains(self, spark):
        """Documented limitation (ADVICE r2): chain (1,2),(2,3) without
        (1,3) leaves 3 pointing at dropped doc 2 under the 1-hop star."""
        docs = spark.createDataFrame([(i, "x") for i in (1, 2, 3)], ["doc_id", "text"])
        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
        got = {r.doc_id: r.canonical_id for r in D.near_dup_canonical(docs, pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 2}  # 3 → 2, but 2 is itself dropped

    def test_components_reach_fixpoint_on_chains(self, spark):
        """near_dup_components resolves the whole chain to one survivor."""
        docs = spark.createDataFrame([(i, "x") for i in range(1, 7)], ["doc_id", "text"])
        # chain 1-2-3-4 (diameter 3, needs >1 round) + isolated 5, pair 6-5? no:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (5, 6)], ["doc_a", "doc_b"]
        )
        got = {
            r.doc_id: r.canonical_id
            for r in D.near_dup_components(docs, pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
        # fixpoint property: every canonical_id maps to itself
        assert all(got[c] == c for c in set(got.values()))

    def test_signature_shape(self, spark, corpus):
        """Columnar signatures: one row per doc, one mh_i column per seed."""
        sig = D.minhash_signatures(D.shingles(corpus, k=3))
        mh_cols = [c for c in sig.columns if c.startswith("mh_")]
        assert len(mh_cols) == D.DEFAULT_NUM_HASHES
        assert sig.count() == corpus.count()
        assert sig.select("doc_id").distinct().count() == sig.count()

    def test_row_local_signatures_match_aggregate_path(self, spark, corpus):
        """The zero-shuffle row-local signature operator is value-identical
        to shingles→minhash_signatures, including dropping docs < k words."""
        short = spark.createDataFrame([(99, "two words")], ["doc_id", "text"])
        docs = corpus.unionByName(short)
        agg = D.minhash_signatures(D.shingles(docs, k=3))
        row = D.minhash_signatures_from_docs(docs, k=3)
        assert agg.exceptAll(row).count() == 0
        assert row.exceptAll(agg).count() == 0
        assert row.where(F.col("doc_id") == 99).count() == 0


class TestSimHash:
    def test_identical_docs_same_hash(self, spark, corpus):
        sh = {r.doc_id: r.simhash for r in D.simhash(corpus).collect()}
        assert sh[1] == sh[2]
        assert sh[1] != sh[4]

    def test_near_dup_small_hamming(self, spark, corpus):
        pairs = {
            (r.doc_a, r.doc_b): r.hamming
            for r in D.simhash_pairs(D.simhash(corpus), max_hamming=6).collect()
        }
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs  # near-dup within hamming 6
        assert not any(4 in p for p in pairs)


class TestSimilaritySearch:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        # centered (±) clusters — coordinate-sign LSH assumes centered data:
        # cluster A ~ (+,-,+,-,...), cluster B ~ (-,+,-,+,...)
        rows = [
            (0, [1.0, -1.0, 1.0, -1.0, 0.9, -0.9, 1.1, -1.1]),
            (1, [0.9, -1.1, 1.1, -0.9, 1.0, -1.0, 0.9, -1.0]),
            (2, [1.1, -0.9, 0.9, -1.0, 1.0, -1.1, 1.0, -0.9]),
            (3, [-1.0, 1.0, -1.0, 1.0, -0.9, 0.9, -1.1, 1.1]),
            (4, [-0.9, 1.1, -1.1, 0.9, -1.0, 1.0, -0.9, 1.0]),
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_brute_topk_orders_by_cosine(self, spark, vectors):
        q = vectors.where(F.col("vec_id") == 0)
        top = S.brute_force_topk(vectors, q, k=2).orderBy("rn").collect()
        assert [r.vec_id for r in top] == [1, 2]  # same-cluster first
        assert top[0].cos_sim > 0.99

    def test_lsh_topk_subset_of_brute(self, spark, vectors):
        q = vectors.where(F.col("vec_id") == 0)
        brute = {r.vec_id for r in S.brute_force_topk(vectors, q, k=4).collect()}
        approx = {r.vec_id for r in S.lsh_topk(vectors, q, k=4, n_bits=4).collect()}
        assert approx <= brute
        assert 1 in approx  # same sign-bucket neighbor found

    def test_near_dup_pairs_within_cluster_only(self, spark, vectors):
        pairs = {
            (r.id_a, r.id_b)
            for r in S.embedding_near_dup(vectors, threshold=0.95, n_bits=4).collect()
        }
        assert (0, 1) in pairs and (3, 4) in pairs
        assert not any(a in (0, 1, 2) and b in (3, 4) for a, b in pairs)

    def test_cosine_expr_value(self, spark):
        df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"])
        v = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
        assert v == pytest.approx(0.9746318461970762)


class TestQuantization:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        rows = [
            (0, [1.0, -1.0, 1.0, -1.0, 0.9, -0.9, 1.1, -1.1]),
            (1, [0.9, -1.1, 1.1, -0.9, 1.0, -1.0, 0.9, -1.0]),
            (2, [-1.0, 1.0, -1.0, 1.0, -0.9, 0.9, -1.1, 1.1]),
        ]
        return spark.createDataFrame(rows, ["vec_id", "vec"])

    def test_int8_codes_in_range_and_roundtrip(self, spark, vectors):
        """Codes bounded by ±127; dequantized cosine within 1e-2 of exact
        (the int8 quality bar for retrieval); scales cancel so the code
        cosine needs no scale at all."""
        q = S.quantize_int8(vectors, vec_col="vec")
        rows = q.collect()
        assert all(-127 <= c <= 127 for r in rows for c in r.qvec)
        a = q.select(
            F.col("vec_id").alias("ida"),
            F.col("vec").alias("va"),
            F.col("qvec").alias("qa"),
            F.col("scale").alias("sa"),
        )
        b = q.select(
            F.col("vec_id").alias("idb"),
            F.col("vec").alias("vb"),
            F.col("qvec").alias("qb"),
            F.col("scale").alias("sb"),
        )
        pairs = a.join(b, F.col("ida") < F.col("idb")).select(
            S.cosine(F.col("va"), F.col("vb")).alias("exact"),
            S.dequantized_cosine(
                F.col("qa"), F.col("sa"), F.col("qb"), F.col("sb")
            ).alias("approx"),
        )
        for r in pairs.collect():
            assert abs(r.exact - r.approx) < 1e-2

    def test_zero_vector_quantizes_to_zero(self, spark):
        z = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], ["vec_id", "vec"])
        r = S.quantize_int8(z, vec_col="vec").collect()[0]
        assert r.scale == 0.0 and list(r.qvec) == [0, 0, 0]


class TestPandasCosine:
    def test_matches_expression_path(self, spark):
        """The Arrow-batched BLAS path returns the same neighbors and
        scores (to float tolerance) as the expression-based brute force."""
        rows = [
            (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
            for i in range(30)
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        queries = emb.where(F.col("vec_id") < 3)
        expr_out = {
            (r.query_id, r.vec_id): (r.cos_sim, r.rn)
            for r in S.brute_force_topk(emb, queries, k=5).collect()
        }
        pd_out = {
            (r.query_id, r.vec_id): (r.cos_sim, r.rn)
            for r in S.pandas_cosine_topk(emb, queries, k=5).collect()
        }
        assert set(expr_out) == set(pd_out)
        for key, (cos, rn) in expr_out.items():
            assert abs(pd_out[key][0] - cos) <= 1e-6
            assert pd_out[key][1] == rn


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


@pytest.mark.parametrize("cap", [None, 8, 2])
def test_lsh_bucket_drops_equal_candidate_pair_doc_b(spark, cap):
    """The bucket-minimum drop set is exactly the ``doc_b`` set of the
    candidate pairs over the same bands and cap (the 1-hop min-id rule)."""
    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    bands = D.lsh_bands(D.minhash_signatures_from_docs(docs))
    got = {r.doc_id for r in D.lsh_bucket_drops(bands, cap).collect()}
    want = {
        r.doc_b
        for r in D.lsh_candidate_pairs(bands, cap).select("doc_b").distinct().collect()
    }
    assert want and got == want


def test_lsh_bucket_drops_null_keys_and_chains(spark):
    """NULL band keys are no bucket, so two NULL-key rows drop nothing;
    a chain (1,2) in band 0 and (2,3) in band 1 drops both 2 and 3 —
    1-hop, not a fixpoint — and never the chain's minimum."""
    bands = spark.createDataFrame(
        [
            (7, 0, None), (8, 0, None),
            (1, 0, 10), (2, 0, 10),
            (2, 1, 20), (3, 1, 20),
            (3, 2, 30),
        ],
        "doc_id BIGINT, band INT, band_key BIGINT",
    )
    got = sorted(r.doc_id for r in D.lsh_bucket_drops(bands).collect())
    assert got == [2, 3]
    # a cap of 1 rules out every two-row bucket, so nothing drops
    assert D.lsh_bucket_drops(bands, max_bucket_size=1).count() == 0


def test_curate_megabucket_keeps_only_lowest_id(spark):
    """~200 docs share one template and differ in one trailing word, so
    they land together in one bucket per band (a megabucket): curation
    keeps only the lowest id, with no pair relation built."""
    from hadoop_tfidf_spark.pipeline import curate_corpus

    template = (
        "the cat is a friend of the dog and the bird is to the east "
        "of the barn and the sun is a lamp of the sky and the moon "
        "is to the west of the hill and the fox is a guest of the "
        "field and the owl is to the north of the"
    )
    docs = spark.createDataFrame(
        [(i, f"{template} w{i}") for i in range(100, 300)],
        "doc_id BIGINT, text STRING",
    )
    assert [r.doc_id for r in curate_corpus(docs).collect()] == [100]


def test_fuzzy_pairs_exact_distances(spark):
    """Levenshtein verification over supplied candidate pairs: exact
    distances, threshold filter, and no all-pairs work (only listed
    candidates are scored)."""
    from hadoop_tfidf_spark.operators.dedup import fuzzy_pairs

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "zzzz")],
        "doc_id BIGINT, text STRING",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in fuzzy_pairs(docs, pairs).collect()
    }
    assert got == {(1, 2): 3, (1, 3): 0}  # classic kitten->sitting = 3
    kept = fuzzy_pairs(docs, pairs, max_dist=1).collect()
    assert [(r.doc_a, r.doc_b) for r in kept] == [(1, 3)]


def test_span_dedup_removes_cross_doc_spans(spark):
    """A 5-word span shared verbatim by two docs is removed from both;
    unique spans survive; a doc whose every span is duplicated reassembles
    to the empty string."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    boiler = "all rights reserved by corp"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta epsilon"),
            (2, f"{boiler} zeta eta theta iota kappa"),
            (3, "totally unique words in here"),
            (4, boiler),  # all spans duplicated → empty clean_text
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in span_dedup(docs, span_words=5).collect()}
    assert got[1].n_spans == 2 and got[1].n_dup_spans == 1
    assert got[1].clean_text == "alpha beta gamma delta epsilon"
    assert got[2].clean_text == "zeta eta theta iota kappa"
    assert got[3].n_dup_spans == 0
    assert got[3].clean_text == "totally unique words in here"
    assert got[4].n_spans == 1 and got[4].n_dup_spans == 1
    assert got[4].clean_text == ""


def test_span_dedup_partial_tail_span_and_order(spark):
    """The final short span is a first-class span (dedupable), and
    surviving spans re-join in original order."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e tail bit"),  # spans: "a b c d e", "tail bit"
            (2, "x y z w v tail bit"),
            (3, "p q r s t u v w x y"),  # two full spans, both unique
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in span_dedup(docs, span_words=5).collect()}
    assert got[1].n_dup_spans == 1 and got[1].clean_text == "a b c d e"
    assert got[2].clean_text == "x y z w v"
    assert got[3].clean_text == "p q r s t u v w x y"


def test_corpus_diff_all_statuses(spark):
    """One doc per status class, classified by content hash."""
    from hadoop_tfidf_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        "doc_id BIGINT, text STRING",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "changed text"), (4, "brand new")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
