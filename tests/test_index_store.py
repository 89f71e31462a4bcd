"""Serve-path edge cases of a stored kNN index: empty id lists, ``k``
above the candidate count and ids absent from the corpus must answer
with the tier's schema and the right row count — never fail silently."""

from __future__ import annotations

import pytest

from hadoop_tfidf_spark.operators import index_store

N, DIM, COARSE_K = 40, 8, 4
SCHEMA = {
    "ivf": "struct<query_id:bigint,vec_id:bigint,cos_sim:double,rn:bigint>",
    "ivfpq_res": "struct<query_id:bigint,vec_id:bigint,adc_d2:bigint,rn:int>",
}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(DIM)])
        for i in range(N)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    root = tmp_path_factory.mktemp("knn")
    out = {}
    for kind in SCHEMA:
        index_store.build_knn_index(
            emb, kind, f"{root}/{kind}", units=1000, coarse_k=COARSE_K,
            m=2, pq_k=4, pq_iters=1,
        )
        out[kind] = index_store.load_index(spark, f"{root}/{kind}")
    return emb, out


@pytest.mark.parametrize("kind", sorted(SCHEMA))
@pytest.mark.parametrize(
    "case,query_ids,k,want_rows",
    [
        ("empty_ids", [], 5, 0),
        # every cell probed: all N-1 other vectors are candidates
        ("k_above_candidates", [3], 5000, N - 1),
        ("absent_id", [10**9], 5, 0),
    ],
)
def test_serve_knn_edge_cases(served, kind, case, query_ids, k, want_rows):
    emb, indexes = served
    out = index_store.serve_knn(
        emb, indexes[kind], query_ids, k=k, nprobe=COARSE_K
    )
    assert out.schema.simpleString() == SCHEMA[kind]
    rows = out.collect()
    assert len(rows) == want_rows, case
    assert sorted(r["rn"] for r in rows) == list(range(1, want_rows + 1))
