"""Similarity-module pins: integer literals carry an explicit BIGINT
element type, so ADC and centroid arithmetic cannot overflow INT under
ANSI mode."""

from __future__ import annotations

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
