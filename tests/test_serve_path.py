"""The serve path stays inside the JVM. A lexical query
(``query_term_bag`` → ``search`` → ``rank``) and a one-id ``serve_knn``
on the ``ivf``, ``ivfsq`` and ``ivfpq_res`` tiers build their query bag
and probe relation as literals in the plan, so no Python RDD (and no
Python worker) is planned, and each answers exactly what the
``createDataFrame``-built relations answered. The literal bag is checked
against that ``createDataFrame`` bag for any query list.

A query also pays nothing that does not depend on it: the lexical plan
shuffles once, and a warm ``ivfpq_res`` kNN query compiles no class for
a new id and makes few py4j round trips."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import REFERENCE_TOKEN_PATTERN, load_docs
from hadoop_tfidf_spark.operators import index_store
from hadoop_tfidf_spark.plans.inspect import plan_stats
from hadoop_tfidf_spark.search import query_term_bag, rank, search
from hadoop_tfidf_spark.tfidf import tfidf
from tests.conftest import SF_DIR_SMOKE as SF_DIR

LEX_QUERIES = [
    ("q1", "scan join scan"),
    ("q2", "window zzzmissing"),
    ("q'3", "merge  sort"),
]
KNN_KINDS = ("ivf", "ivfsq", "ivfpq_res")
KNN_ID, K, NPROBE = 7, 10, 3
#: An id no other test serves, in KNN_ID's 2^16-id block.
NEW_ID = 431
#: py4j round trips of a warm ivfpq_res serve_knn call: 93 measured,
#: with room for small PySpark-version drift.
PY4J_CALLS_MAX = 120
#: sha256 of each case's sorted answer rows as the createDataFrame-built
#: query bag and probe relations answered them on this fixture.
ANSWERS = {
    "lexical": "f85d1fd49bbaad5c8735866bb89670ee387c79d03188698b690ff797b7de483b",
    "ivf": "20f851d7c14b435e5f86bc798e8dc2d82fdce6125fc25fa1bc55bdad57372d2c",
    "ivfsq": "b9e534ae34295f05fcf663bace97cdec0576542ad825779feb5c1900b51fdd61",
    "ivfpq_res": "af38c214016d43dac0c6447abac485aeb341e4704eb351ffd37130c5556bc765",
}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serve")
    docs = load_docs(spark, f"{SF_DIR}/documents.parquet")
    tfidf(docs).select(
        "word", "doc_id", F.round("tfidf", 6).alias("tfidf")
    ).write.parquet(f"{root}/tfidf")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    indexes = {}
    for kind in KNN_KINDS:
        index_store.build_knn_index(emb, kind, f"{root}/{kind}", coarse_iters=1)
        indexes[kind] = index_store.load_index(spark, f"{root}/{kind}")
    return spark.read.parquet(f"{root}/tfidf"), emb, indexes


def answer(spark, served, case):
    """The query the serve path runs for ``case``, as a DataFrame."""
    idx, emb, indexes = served
    if case == "lexical":
        scored = search(idx, query_term_bag(spark, LEX_QUERIES)).select(
            "query_id", "doc_id", F.round("score", 6).alias("score")
        )
        return rank(scored).where(F.col("rnk") <= K)
    return index_store.serve_knn(emb, indexes[case], [KNN_ID], k=K, nprobe=NPROBE)


def digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("case", ["lexical", *KNN_KINDS])
def test_serve_path_plans_no_python_rdd(spark, served, case):
    df = answer(spark, served, case)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    assert "OneRowRelation" in plan  # the in-plan literal relation
    assert digest(df) == ANSWERS[case]


def test_lexical_search_rank_plans_one_exchange(spark, served):
    """``search`` hash-partitions its join output by ``query_id``, so the
    one exchange serves both the ``(query_id, doc_id)`` sum and
    ``rank``'s per-query window."""
    assert plan_stats(answer(spark, served, "lexical")).shuffle_exchanges == 1


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_warm_knn_query_compiles_nothing_for_a_new_id(spark, served):
    """The query id reaches generated code only as an array literal read
    by reference and a range aligned to 2^16-id blocks, so a new id in a
    block already served compiles no class (``isin`` inlined the id:
    ~2 Janino compiles per new id)."""
    _, emb, indexes = served
    for _ in range(2):
        index_store.serve_knn(
            emb, indexes["ivfpq_res"], [KNN_ID], k=K, nprobe=NPROBE
        ).collect()
    before = _compiles(spark)
    rows = index_store.serve_knn(
        emb, indexes["ivfpq_res"], [NEW_ID], k=K, nprobe=NPROBE
    ).collect()
    assert _compiles(spark) - before == 0
    assert {r["query_id"] for r in rows} == {NEW_ID}


def test_warm_knn_query_makes_few_py4j_calls(spark, served):
    """A warm ``ivfpq_res`` ``serve_knn`` call (the plan build plus the
    query-row lookup collect) reuses the expressions ``load_index``
    built once: 93 py4j round trips measured, where rebuilding them on
    every query made 798."""
    _, emb, indexes = served
    index_store.serve_knn(
        emb, indexes["ivfpq_res"], [KNN_ID], k=K, nprobe=NPROBE
    ).collect()
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        index_store.serve_knn(
            emb, indexes["ivfpq_res"], [NEW_ID + 1], k=K, nprobe=NPROBE
        )
    finally:
        client.send_command = send
    assert len(calls) <= PY4J_CALLS_MAX


TERMS = [
    "a", "scan", "it's", '"q"', "\\", "\\n", "x\ty", "ü", "日本", "", " ", "a'b",
]
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
)
query_texts = st.one_of(
    st.none(),
    texts,
    st.lists(st.sampled_from(TERMS), max_size=6).map(" ".join),
)


@given(
    queries=st.lists(
        st.tuples(st.one_of(st.none(), texts), query_texts), max_size=4
    ),
    pattern=st.sampled_from([" ", REFERENCE_TOKEN_PATTERN]),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(queries=[], pattern=" ")
@example(queries=[("q", "a b a"), ("q", "a"), ("r", "")], pattern=" ")
@example(queries=[("q'1", "data-set it's \\ \t ü")], pattern=REFERENCE_TOKEN_PATTERN)
def test_literal_bag_equals_created_bag(spark, queries, pattern):
    """The bag is exactly the one a ``createDataFrame`` query relation
    gives — same schema, same ``(query_id, word)`` rows with the same
    multiplicities (Search.java:230 bag semantics), for the plain space
    split and the reference tokenizer pattern ``cli search`` uses."""
    created = spark.createDataFrame(queries, "query_id STRING, query_text STRING")
    want = created.select(
        "query_id", F.explode(F.split("query_text", pattern)).alias("word")
    ).where(F.col("word") != "")
    got = query_term_bag(spark, queries, pattern)
    assert got.schema == want.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))
