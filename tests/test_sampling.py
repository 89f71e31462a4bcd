"""operators.sampling: sequence packing spreads string and BIGINT doc
ids over hash buckets and packs each bucket by running token sums;
stratified hash sampling keeps each stratum's rate; mixture weights."""

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


def test_mixture_weights_hand_computed(spark):
    """Two strata, 3:1 token split → shares .75/.25 and uniform weights
    2/3 and 2 (uniform target = half the tokens each)."""
    from hadoop_tfidf_spark.operators.sampling import mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f", "web", "en"),
            (2, "g h i j k l", "web", "en"),
            (3, "m n o p", "books", "en"),
        ],
        "doc_id BIGINT, text STRING, source STRING, lang STRING",
    )
    rows = {
        (r.source, r.lang): r
        for r in mixture_weights(docs, ["source", "lang"]).collect()
    }
    web = rows[("web", "en")]
    books = rows[("books", "en")]
    assert (web.n_docs, web.n_tokens) == (2, 12)
    assert (books.n_docs, books.n_tokens) == (1, 4)
    assert abs(web.token_share - 0.75) < 1e-6
    assert abs(books.token_share - 0.25) < 1e-6
    assert abs(web.uniform_weight - 16 / (2 * 12)) < 1e-6
    assert abs(books.uniform_weight - 16 / (2 * 4)) < 1e-6


def test_pack_sequences_boundaries_and_straddle(spark):
    """Budget 10, one bucket (n_buckets=1 pins every doc to shard 0 under
    the md5 bucketing): docs of 4/4/4 tokens → the third doc starts at
    cum 8 (pack 0, offset 8) and straddles into pack 1 — pack id is
    floor(tokens_before/budget), the concat-then-chunk contract."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(0, "a b c d"), (8, "e f g h"), (16, "i j k l"), (24, "m n o p")],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r.doc_id: r
        for r in pack_sequences(docs, budget=10, n_buckets=1).collect()
    }
    assert all(got[i].bucket == 0 for i in (0, 8, 16, 24))
    assert (got[0].pack_id, got[0].offset_in_pack) == (0, 0)
    assert (got[8].pack_id, got[8].offset_in_pack) == (0, 4)
    assert (got[16].pack_id, got[16].offset_in_pack) == (0, 8)
    assert (got[24].pack_id, got[24].offset_in_pack) == (1, 2)


def test_pack_sequences_buckets_are_independent(spark):
    """Docs in different buckets pack independently from offset 0 (ids
    0/1/4 land in md5 buckets 0/1/2 with n_buckets=3 — pinned by the
    same md5('0:{id}') formula the operator uses)."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (4, "g h i")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r for r in pack_sequences(docs, budget=4, n_buckets=3).collect()}
    assert {got[i].bucket for i in (0, 1, 4)} == {0, 1, 2}
    assert all(got[i].offset_in_pack == 0 and got[i].pack_id == 0 for i in (0, 1, 4))


def test_pack_sequences_partition_by_split(spark):
    """Split-aware packing: each partition_by group packs independently
    from offset 0 and docs never share a pack across groups."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "a b c", "train"),
            (8, "d e f", "train"),
            (16, "g h i", "test"),
        ],
        "doc_id BIGINT, text STRING, split STRING",
    )
    got = {
        r.doc_id: r
        for r in pack_sequences(
            docs, budget=4, n_buckets=1, partition_by=["split"]
        ).collect()
    }
    assert got[0].split == "train" and (got[0].pack_id, got[0].offset_in_pack) == (0, 0)
    assert got[8].split == "train" and (got[8].pack_id, got[8].offset_in_pack) == (0, 3)
    # the test split restarts at zero even though train already consumed tokens
    assert got[16].split == "test" and (got[16].pack_id, got[16].offset_in_pack) == (0, 0)


def test_pack_sequences_shuffle_seed_deterministic_redeal(spark):
    """shuffle_seed packs in md5 order: deterministic across runs, a
    different deal from the doc_id order, and token totals per bucket
    are unchanged (order changes, membership doesn't)."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (i % 5 + 1)) for i in range(0, 64, 2)],
        "doc_id BIGINT, text STRING",
    )
    a = pack_sequences(docs, budget=6, n_buckets=2, shuffle_seed=1).collect()
    b = pack_sequences(docs, budget=6, n_buckets=2, shuffle_seed=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    plain = pack_sequences(docs, budget=6, n_buckets=2).collect()
    key = lambda rows: {r.doc_id: (r.pack_id, r.offset_in_pack) for r in rows}
    assert key(a) != key(plain)  # a re-deal, not the identity order
    tot = lambda rows: {
        bkt: sum(r.n_tokens for r in rows if r.bucket == bkt) for bkt in (0, 1)
    }
    assert tot(a) == tot(plain)
