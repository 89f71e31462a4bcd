"""operators.sampling: sequence packing spreads string and BIGINT doc
ids over hash buckets and packs each bucket by running token sums;
stratified hash sampling keeps each stratum's rate."""

from __future__ import annotations

from pyspark.sql import functions as F


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


def test_stratified_hash_sample_semantics(spark):
    """Per-stratum rates apply to the key's hash bucket; unlisted strata
    drop entirely; membership is a pure function of (key, stratum-rate),
    so a rerun returns the identical set."""
    from hadoop_tfidf_spark.operators.sampling import (
        hash_bucket_col,
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else ("b" if i % 4 == 1 else "c"))
         for i in range(400)],
        "k BIGINT, s STRING",
    )
    out = stratified_hash_sample(df, "k", "s", {"a": 100, "b": 25})
    rows = out.collect()
    # every 'a' survives (rate 100), no 'c' survives (unlisted)
    assert {r.s for r in rows} == {"a", "b"}
    assert sum(1 for r in rows if r.s == "a") == 200
    buckets = {
        r.k: r.b
        for r in df.select("k", hash_bucket_col(F.col("k")).alias("b")).collect()
    }
    for r in rows:
        if r.s == "b":
            assert buckets[r.k] < 25
    # deterministic: identical membership on a rerun
    again = {r.k for r in stratified_hash_sample(df, "k", "s", {"a": 100, "b": 25}).collect()}
    assert again == {r.k for r in rows}
