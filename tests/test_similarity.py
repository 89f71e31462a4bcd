"""Similarity-module pins: integer literals carry an explicit BIGINT
element type, so ADC and centroid arithmetic cannot overflow INT under
ANSI mode; PQ, SQ and OPQ retrieval and the nearest-centroid label audit
on hand-built vectors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators import similarity as S


def test_integer_literals_are_bigint(spark):
    df = spark.range(1).select(
        S._lit_array([1, 2]).alias("v"),
        S._lit_array([[1, 2], [3, 4]]).alias("m"),
        S._lit_array([[[1, 2]], [[3, 4]]]).alias("c"),
    )
    assert {f.name: f.dataType.simpleString() for f in df.schema.fields} == {
        "v": "array<bigint>",
        "m": "array<array<bigint>>",
        "c": "array<array<array<bigint>>>",
    }
    two = S._lit_array([2**30, 2**30])
    total = spark.range(1).select(
        (F.element_at(two, 1) + F.element_at(two, 2)).alias("s")
    ).first()["s"]
    assert total == 2**31


def test_pq_topk_adc_sum_past_int_range(spark):
    """Each per-subspace ADC entry lies between 2^30 and 2^31 (so it
    would type as INT), and their sum crosses 2^31: the search must
    return the exact BIGINT distance, not raise ARITHMETIC_OVERFLOW."""
    units = 1000
    rows = [(0, [40.0, 40.0])] + [
        (i, [0.001 * i, -0.001 * i]) for i in range(1, 9)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    codes, books = S.pq_build(emb, m=2, k=2, iters=1, units=units)
    got = S.pq_topk(emb, codes, books, [0], k=3, units=units).collect()
    code_of = {r["vec_id"]: (r["code_0"], r["code_1"]) for r in codes.collect()}
    q = [40_000, 40_000]
    for r in got:
        per_sub = [
            (q[s] - books[s][c][0]) ** 2 for s, c in enumerate(code_of[r["vec_id"]])
        ]
        assert all(2**30 < d < 2**31 for d in per_sub), per_sub
        assert r["adc_d2"] == sum(per_sub) > 2**31
    assert [r["rn"] for r in got] == [1, 2, 3]


def test_nearest_centroid_confusion_separable_labels(spark):
    """Two well-separated label clouds → purely diagonal confusion; a
    planted cross-label outlier lands off-diagonal."""
    from hadoop_tfidf_spark.operators.similarity import (
        label_centroids,
        nearest_centroid_confusion,
    )

    rows = []
    for i in range(10):
        rows.append((i, [10.0 + (i % 3) * 0.01] * 4, 0))
    for i in range(10, 20):
        rows.append((i, [-10.0 - (i % 3) * 0.01] * 4, 1))
    rows.append((99, [-10.0] * 4, 0))  # label-0 vector in the label-1 cloud
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    )
    conf = {
        (r.label, r.assigned_label): r.n
        for r in nearest_centroid_confusion(emb).collect()
    }
    assert conf[(0, 0)] == 10 and conf[(1, 1)] == 10
    assert conf[(0, 1)] == 1 and (1, 0) not in conf
    cents = label_centroids(emb).collect()
    assert all(isinstance(r.m, int) for r in cents)
    # 64-dim? no: 4 dims × 2 labels
    assert len(cents) == 8


def test_pq_codes_deterministic_and_in_range(spark):
    """Integer micro-unit PQ: codes are stable across builds and live in
    [0, k); codebooks are plain ints."""
    import random

    from hadoop_tfidf_spark.operators.similarity import pq_build

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    c1, b1 = pq_build(emb, m=2, k=4, iters=1)
    c2, b2 = pq_build(emb, m=2, k=4, iters=1)
    r1 = {r.vec_id: (r.code_0, r.code_1) for r in c1.collect()}
    r2 = {r.vec_id: (r.code_0, r.code_1) for r in c2.collect()}
    assert r1 == r2 and b1 == b2
    assert all(0 <= c < 4 for pair in r1.values() for c in pair)
    assert all(isinstance(x, int) for s in b1 for c in s for x in c)


def test_pq_topk_finds_planted_cluster(spark):
    """Two tight clouds: ADC top-k for a query in cloud A returns only
    cloud-A members (PQ distances separate the clouds), ranked ascending
    with the (adc_d2, vec_id) tie-break."""
    import random

    from hadoop_tfidf_spark.operators.similarity import pq_build, pq_topk

    rng = random.Random(3)
    rows = []
    for i in range(12):
        base = 5.0 if i % 2 == 0 else -5.0
        rows.append((i, [base + rng.uniform(-0.05, 0.05) for _ in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    codes, books = pq_build(emb, m=2, k=2, iters=2)
    out = pq_topk(emb, codes, books, [0], k=5).collect()
    assert len(out) == 5
    assert all(r.vec_id % 2 == 0 and r.vec_id != 0 for r in out)
    d2s = [r.adc_d2 for r in out]
    assert d2s == sorted(d2s)
    assert [r.rn for r in out] == [1, 2, 3, 4, 5]


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def test_sq_topk_full_candidates_equals_exact(spark):
    """With candidates >= corpus size the candidate cut keeps everyone,
    so sq_topk must equal int_l2_topk exactly (same d2_u, same order)."""
    import random

    from hadoop_tfidf_spark.operators.similarity import int_l2_topk, sq_topk

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = _emb_df(spark, rows)
    q = emb.where(F.col("vec_id") < 2)
    got = sq_topk(emb, q, k=5, candidates=100, in_dim=8).collect()
    want = int_l2_topk(emb, q, k=5).collect()
    key = lambda r: (r["query_id"], r["rn"])
    got_s = sorted(((r["query_id"], r["rn"], r["vec_id"], r["d2_u"]) for r in got))
    want_s = sorted(((r["query_id"], r["rn"], r["vec_id"], r["d2_u"]) for r in want))
    assert got_s == want_s


def test_sq_topk_code_range_and_zero_corpus(spark):
    """Codes stay in [-128, 127]; an all-zero corpus (vmax clamp to 1)
    must not divide by zero."""
    from hadoop_tfidf_spark.operators.similarity import sq_topk

    emb = _emb_df(spark, [(i, [0.0] * 4) for i in range(5)])
    out = sq_topk(emb, emb.where(F.col("vec_id") == 0), k=2,
                  candidates=10, in_dim=4).collect()
    assert len(out) == 2 and all(r["d2_u"] == 0 for r in out)


def test_sq_topk_recall_reasonable_on_random(spark):
    """At a tight candidate budget the SQ cut should still recover most
    of the true top-k on random data (resolution loss, not dimension
    collision)."""
    import random

    from hadoop_tfidf_spark.operators.similarity import int_l2_topk, sq_topk

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    emb = _emb_df(spark, rows)
    q = emb.where(F.col("vec_id") < 3)
    truth = {
        (r["query_id"], r["vec_id"])
        for r in int_l2_topk(emb, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in sq_topk(emb, q, k=5, candidates=15, in_dim=16).collect()
    }
    assert len(got & truth) >= int(0.8 * len(truth))


def test_opq_permutation_balances_variance(spark):
    """8 dims where dims 0-3 carry huge variance and 4-7 almost none:
    round-robin by variance rank must put exactly one hot dim in each
    of the 4 subspaces (contiguous splitting would give subspace 0 all
    four)."""
    import random

    from hadoop_tfidf_spark.operators.similarity import opq_permutation

    rng = random.Random(3)
    rows = [
        (
            i,
            [rng.uniform(-1, 1) * 8 for _ in range(4)]
            + [rng.uniform(-1, 1) * 0.05 for _ in range(4)],
        )
        for i in range(64)
    ]
    emb = _emb_df(spark, rows)
    perm = opq_permutation(emb, m=4, in_dim=8, sample_n=64)
    assert sorted(perm) == list(range(8))
    sub = 2
    for s in range(4):
        block = perm[s * sub : (s + 1) * sub]
        assert sum(1 for d in block if d < 4) == 1, (s, perm)


def test_opq_beats_contiguous_pq_on_skewed_dims(spark):
    """On a variance-skewed corpus (first quarter of the dims 8x hot),
    OPQ's balanced subspaces should recall at least as much of the
    exact top-k as contiguous PQ, and strictly more in aggregate."""
    import random

    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        opq_topk,
        pq_build,
        pq_topk,
    )

    rng = random.Random(5)
    dim, n = 16, 150
    rows = [
        (
            i,
            [rng.uniform(-1, 1) * 8 for _ in range(dim // 4)]
            + [rng.uniform(-1, 1) for _ in range(dim - dim // 4)],
        )
        for i in range(n)
    ]
    emb = _emb_df(spark, rows)
    qids = [0, 1, 2, 3, 4]
    q = emb.where(F.col("vec_id").isin(qids))
    truth = {
        (r["query_id"], r["vec_id"])
        for r in int_l2_topk(emb, q, k=8).collect()
    }
    codes, books = pq_build(emb, m=4, k=16, iters=1, pack=True)
    pq_hits = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, codes, books, qids, k=8).collect()
    }
    opq_hits = {
        (r["query_id"], r["vec_id"])
        for r in opq_topk(emb, qids, k=8, m=4, pq_k=16, iters=1,
                          in_dim=dim, sample_n=n).collect()
    }
    assert len(opq_hits & truth) > len(pq_hits & truth)


def test_opq_permutation_rejects_wrong_dim(spark):
    from hadoop_tfidf_spark.operators.similarity import opq_permutation

    emb = _emb_df(spark, [(i, [0.1] * 6) for i in range(8)])
    with pytest.raises(Exception):
        opq_permutation(emb, m=4, in_dim=8, sample_n=8)
