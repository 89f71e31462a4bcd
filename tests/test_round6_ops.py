"""Round-6 hardening tests: storage-level control on persisted diamonds,
incremental-stats re-ingestion guard, integer-exact IVF."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tests.conftest import SF_DIR_SMOKE, cached_rdd_ids


def _cached_levels(spark, ignore_ids=frozenset()):
    """(useDisk, useMemory) per currently-cached RDD. ``ignore_ids``
    excludes RDDs cached BEFORE the operation under test:
    getRDDStorageInfo is JVM-global, and clearCache() only drops
    CacheManager-registered relations — a raw RDD persist leaked by an
    earlier test in a long full-suite run would otherwise flake the
    all-disk-only assertion (observed round 14)."""
    sc = spark.sparkContext
    return [
        (i.storageLevel().useDisk(), i.storageLevel().useMemory())
        for i in sc._jsc.sc().getRDDStorageInfo()
        if i.id() not in ignore_ids
    ]


def test_tfidf_storage_level_disk_only(spark):
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.tfidf import tfidf

    spark.catalog.clearCache()
    pre = cached_rdd_ids(spark)
    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet")
    out = tfidf(
        docs,
        persist_intermediate=True,
        storage_level=StorageLevel.DISK_ONLY,
    )
    n = out.count()
    assert n > 0
    levels = _cached_levels(spark, pre)
    assert levels, "persist_intermediate must materialize a cached relation"
    assert all(use_disk and not use_mem for use_disk, use_mem in levels)
    spark.catalog.clearCache()


def test_repetition_score_hand_computed(spark):
    """Planted docs: a loop-generated page scores high on both ratios, a
    diverse doc scores 0, a 2-word doc gets a NULL gram ratio."""
    from hadoop_tfidf_spark.functions.text import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),  # 6 words, 2 distinct
            (2, "the quick brown fox"),      # all distinct
            (3, "hi there"),                 # < 3 words: no grams
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in repetition_score(docs).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_distinct_words) == (6, 2)
    assert abs(r1.word_dup_ratio - (1 - 2 / 6)) < 1e-6
    # 4 trigrams: "buy now buy","now buy now","buy now buy","now buy now"
    assert r1.n_grams == 4 and abs(r1.gram_dup_ratio - 0.5) < 1e-6
    r2 = got[2]
    assert r2.word_dup_ratio == 0.0 and r2.gram_dup_ratio == 0.0
    r3 = got[3]
    assert r3.n_grams == 0 and r3.gram_dup_ratio is None


def test_approx_distinct_bounds_flags_hold(spark):
    """The envelope twin's flags must be 1 on real data (HLL rsd=0.02 vs a
    10% tolerance; GK accuracy=10000 vs 5%) and its exact columns must
    equal the plain exact aggregation."""
    from hadoop_tfidf_spark.operators.relational import approx_distinct_bounds

    li = spark.read.parquet(f"{SF_DIR_SMOKE}/lineitem.parquet")
    rows = approx_distinct_bounds(li).collect()
    assert rows
    for r in rows:
        assert (r.hll_ok, r.p50_ok, r.p95_ok, r.p99_ok) == (1, 1, 1, 1), r
    exact = {
        (r.l_returnflag): r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert {r.l_returnflag: r.exact_parts for r in rows} == exact


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
