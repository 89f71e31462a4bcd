"""Incremental TF-IDF stats: streaming 3 micro-batches of documents must
produce exactly the stats a batch pass over the full corpus produces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import tokenize
from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats
from hadoop_tfidf_spark.tfidf import doc_frequency, doc_word_count
from tests.conftest import SF_DIR_SMOKE

BATCHES = [
    [(1, "a b c"), (2, "a b")],
    [(3, "a d")],
    [(4, "b d e"), (5, "a")],
]


def test_incremental_matches_batch(spark, tmp_path):
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    src = str(tmp_path / "docs_src")
    for i, batch in enumerate(BATCHES):
        spark.createDataFrame(batch, ["doc_id", "text"]).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stats.attach(stream)
    q.awaitTermination()

    all_docs = spark.createDataFrame(
        [r for b in BATCHES for r in b], ["doc_id", "text"]
    )
    want = {
        r.word: r.df
        for r in doc_frequency(doc_word_count(tokenize(all_docs, " "))).collect()
    }
    got = {r.word: r.df for r in stats.df_table().collect()}
    assert got == want
    assert stats.num_docs() == 5

    idf = {r.word: r.idf for r in stats.idf().collect()}
    import math
    assert idf["a"] == pytest.approx(math.log10(1 + 5 // 4))  # df(a)=4
    assert idf["e"] == pytest.approx(math.log10(1 + 5 // 1))  # df(e)=1


def test_replayed_batch_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a crash
    between the state write and the checkpoint commit must not
    double-count df/num_docs."""
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    b0 = spark.createDataFrame([(1, "a b"), (2, "a")], ["doc_id", "text"])
    stats.merge_batch(b0, batch_id=0)
    stats.merge_batch(b0, batch_id=0)  # replay — must be a no-op
    got = {r.word: r.df for r in stats.df_table().collect()}
    assert got == {"a": 2, "b": 1}
    assert stats.num_docs() == 2
    assert stats.last_batch_id() == 0


def test_reingested_doc_in_later_batch_is_ignored(spark, tmp_path):
    """A doc_id arriving again in a LATER batch (upstream replay with a
    new batch_id, restated doc) must leave num_docs and df unchanged —
    the seen-doc-ids guard, not the batch_id idempotence check."""
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    stats.merge_batch(
        spark.createDataFrame([(1, "a b"), (2, "a")], ["doc_id", "text"]),
        batch_id=0,
    )
    # doc 1 re-sent (even with different text) + genuinely new doc 3
    stats.merge_batch(
        spark.createDataFrame([(1, "x y z"), (3, "b")], ["doc_id", "text"]),
        batch_id=1,
    )
    got = {r.word: r.df for r in stats.df_table().collect()}
    assert got == {"a": 2, "b": 2}  # doc 1's re-send contributed nothing
    assert stats.num_docs() == 3
    seen = {r.doc_id for r in stats.seen_table().collect()}
    assert seen == {1, 2, 3}


def test_track_seen_docs_off_restores_append_only_contract(spark, tmp_path):
    """With the guard off the caller owns append-only ids: a re-sent doc
    IS double-counted (documented precondition, not a bug)."""
    stats = IncrementalTfidfStats(
        spark, str(tmp_path / "stats"), track_seen_docs=False
    )
    b = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    stats.merge_batch(b, batch_id=0)
    stats.merge_batch(b, batch_id=1)
    assert stats.num_docs() == 2
    assert {r.word: r.df for r in stats.df_table().collect()} == {"a": 2}


def test_crash_before_commit_rename_is_recoverable(spark, tmp_path):
    """A staging dir left by a crash BEFORE the commit rename must not be
    visible as state, and the replayed batch must merge normally; the
    leftover is swept by the next merge."""
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    b0 = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    stats.merge_batch(b0, batch_id=0)
    # simulate a crashed batch 1: staging written, rename never happened
    crashed = tmp_path / "stats" / "_staging_1"
    (crashed / "df").mkdir(parents=True)
    assert stats.last_batch_id() == 0  # staging invisible to readers
    b1 = spark.createDataFrame([(2, "a c")], ["doc_id", "text"])
    stats.merge_batch(b1, batch_id=1)  # the replay
    got = {r.word: r.df for r in stats.df_table().collect()}
    assert got == {"a": 2, "b": 1, "c": 1}
    assert stats.num_docs() == 2
    # staging leftovers swept; gen=0 RETAINED (retain=1 keeps the newest
    # superseded generation so an in-flight reader that resolved it just
    # before the commit can finish its scan)
    names = [p.name for p in (tmp_path / "stats").iterdir()]
    assert "_staging_1" not in names
    assert "gen=1" in names and "gen=0" in names
    # the next merge retires it: retention is a one-generation grace
    stats.merge_batch(
        spark.createDataFrame([(3, "d")], ["doc_id", "text"]), batch_id=2
    )
    names = [p.name for p in (tmp_path / "stats").iterdir()]
    assert "gen=0" not in names and "gen=1" in names and "gen=2" in names


def test_stale_generation_is_ignored_and_swept(spark, tmp_path):
    """A crash after rename but before the old-generation sweep leaves two
    gen dirs; readers must take the max and the next merge must sweep
    everything older than the one-generation retention grace."""
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    stats.merge_batch(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]), batch_id=0
    )
    # resurrect a fake stale generation below the committed one
    import shutil

    shutil.copytree(tmp_path / "stats" / "gen=0", tmp_path / "stats" / "gen=-1")
    # readers pick gen=0 (num_docs 1), not the stale copy
    assert stats.last_batch_id() == 0
    stats.merge_batch(
        spark.createDataFrame([(2, "b")], ["doc_id", "text"]), batch_id=1
    )
    names = [p.name for p in (tmp_path / "stats").iterdir()]
    # gen=-1 (beyond the grace) swept; gen=0 retained for in-flight readers
    assert "gen=-1" not in names and "gen=0" in names
    assert stats.num_docs() == 2


def test_transient_read_error_propagates(spark, tmp_path):
    """A corrupt (non-parquet) state file must raise, not silently reset
    the accumulated stats to empty."""
    stats_dir = tmp_path / "stats"
    (stats_dir / "gen=0" / "df").mkdir(parents=True)
    (stats_dir / "gen=0" / "df" / "part-00000.parquet").write_bytes(
        b"not parquet at all"
    )
    stats = IncrementalTfidfStats(spark, str(stats_dir))
    with pytest.raises(Exception):
        stats.df_table().collect()


def test_search_from_incremental_stats_equals_batch(spark, tmp_path):
    """DQ5 scores computed from incrementally-merged stats must equal the
    batch search on the same corpus (the streaming_search identity at
    unit scale, two disjoint merge batches)."""
    from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, tokenize
    from hadoop_tfidf_spark.declared import SEARCH_QUERIES
    from hadoop_tfidf_spark.search import query_term_bag, search
    from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats
    from hadoop_tfidf_spark.tfidf import doc_word_count, tfidf

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").limit(100)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    stats = IncrementalTfidfStats(spark, str(tmp_path / "stats"))
    stats.merge_batch(b0, batch_id=0)
    stats.merge_batch(b1, batch_id=1)

    dwc = doc_word_count(tokenize(docs, SPACE_TOKEN_PATTERN))
    tf = dwc.withColumn("tf", F.lit(1.0) + F.log10("n"))
    inc_rel = tf.join(stats.idf(), "word").select(
        "word", "doc_id", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")
    )
    bag = query_term_bag(spark, SEARCH_QUERIES)
    inc = {
        (r.query_id, r.doc_id): round(r.score, 6)
        for r in search(inc_rel, bag).collect()
    }
    batch_rel = tfidf(docs, tokens=tokenize(docs, SPACE_TOKEN_PATTERN)).select(
        "word", "doc_id", F.round("tfidf", 6).alias("tfidf")
    )
    batch = {
        (r.query_id, r.doc_id): round(r.score, 6)
        for r in search(batch_rel, bag).collect()
    }
    assert inc == batch and inc
