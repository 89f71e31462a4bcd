"""functions.literals is the package's one route for driver-side rows:
no module builds a DataFrame from a Python list, and the small relations
that the streaming state, the declared queries and the micro-batch
commit build are in-plan literals, with no Python RDD (``LogicalRDD``)
in their plans."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import SparkSession

from tests.conftest import SF_DIR_SMOKE

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hadoop_tfidf_spark"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_package_never_parallelizes_a_python_list():
    hits = [
        f"{p.relative_to(PACKAGE.parent)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame" in line
    ]
    assert hits == []


def test_scoring_and_text_do_not_import_the_ann_module():
    for mod in ("search.py", "functions/text.py"):
        assert "operators.similarity" not in (PACKAGE / mod).read_text(), mod


def _stats(spark, tmp_path):
    from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats

    return IncrementalTfidfStats(spark, str(tmp_path / "stats"))


def _lsh(spark, tmp_path):
    from hadoop_tfidf_spark.streaming.dedup import IncrementalLshIndex

    return IncrementalLshIndex(spark, str(tmp_path / "lsh"))


def _declared(name):
    def build(spark, tmp_path):
        import __spark_entry__

        return __spark_entry__.queries()[name](spark, SF_DIR_SMOKE)

    return build


#: Small relations on a fresh state directory, and the declared queries
#: that build one from driver-side rows.
SMALL_RELATIONS = {
    "incremental_df_table": lambda s, t: _stats(s, t).df_table(),
    "incremental_seen_table": lambda s, t: _stats(s, t).seen_table(),
    "lsh_bands_table": lambda s, t: _lsh(s, t).bands_table(),
    **{
        name: _declared(name)
        for name in ("rel_price_bands", "search_hybrid_rrf", "sim_pca_components")
    },
}


@pytest.mark.parametrize("name", list(SMALL_RELATIONS))
def test_small_relations_are_in_plan_literals(spark, tmp_path, name):
    plan = _optimized(SMALL_RELATIONS[name](spark, tmp_path))
    assert "LogicalRDD" not in plan


def test_micro_batch_commit_builds_no_python_rdd(spark, tmp_path, monkeypatch):
    """merge_batch commits (df, seen, meta) for two micro-batches with
    list-to-DataFrame construction disabled; the committed meta row reads
    back."""
    from pyspark.sql import functions as F

    from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").limit(40)

    def refuse(*args, **kwargs):
        raise AssertionError("a Python list was parallelized")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    stats.merge_batch(docs.where(F.col("doc_id") % 2 == 0), batch_id=0)
    stats.merge_batch(docs.where(F.col("doc_id") % 2 == 1), batch_id=1)
    monkeypatch.undo()
    assert (stats.num_docs(), stats.last_batch_id()) == (
        docs.select("doc_id").distinct().count(),
        1,
    )


def test_local_relation_accepts_not_null_ddl(spark):
    """A DDL that marks fields NOT NULL, written by hand or by
    ``DataFrame.schema.toDDL()`` for literal and aggregated columns,
    gives the rows back with every field nullable."""
    from pyspark.sql import functions as F

    from hadoop_tfidf_spark.functions.literals import _local_relation

    hand = _local_relation(spark, [(1, "a"), (2, None)], "x BIGINT NOT NULL, s STRING")
    assert sorted(hand.collect()) == [(1, "a"), (2, None)]
    assert all(f.nullable for f in hand.schema.fields)
    ddl = spark.range(2).select("id", F.lit("s").alias("s")).schema.toDDL()
    assert "NOT NULL" in ddl
    rows = [(7, "p"), (8, "q")]
    assert sorted(_local_relation(spark, rows, ddl).collect()) == rows
