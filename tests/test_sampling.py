"""operators.sampling: sequence packing spreads string and BIGINT doc
ids over hash buckets and packs each bucket by running token sums."""

from __future__ import annotations


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
