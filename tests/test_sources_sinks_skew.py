"""Tests for source loaders (csv/jsonl/text-dir, the schema-adaptive
events loader), reference-parity sink encodings, LSH bucket-size
capping, and the skew helpers."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import load_csv, load_jsonl, tokenize
from hadoop_tfidf_spark.operators import dedup as D
from hadoop_tfidf_spark.operators.skew import salted_agg, skewed_broadcast_join
from hadoop_tfidf_spark.sinks import (
    reference_doc_word_count_lines,
    reference_tfidf_lines,
)
from hadoop_tfidf_spark.sources.events import load_events
from hadoop_tfidf_spark.tfidf import doc_word_count, tfidf
from tests.conftest import SF_DIR_SMOKE, TZ_KEY


def test_load_csv(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    with open(p, "w") as f:
        f.write("doc_id,text\nd1,hello world\nd2,spark rocks\n")
    docs = load_csv(spark, p)
    assert {(r.doc_id, r.text) for r in docs.collect()} == {
        ("d1", "hello world"), ("d2", "spark rocks"),
    }


def test_load_jsonl(spark, tmp_path):
    p = str(tmp_path / "c.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": "d1", "text": "hello world"}\n')
        f.write('{"doc_id": "d2", "text": "spark rocks"}\n')
    docs = load_jsonl(spark, p)
    assert docs.count() == 2
    assert set(docs.columns) == {"doc_id", "text"}


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink roundtrip preserves rows and schema."""
    from hadoop_tfidf_spark.corpus import load_orc
    from hadoop_tfidf_spark.sinks import write_orc

    p = str(tmp_path / "docs_orc")
    src = spark.createDataFrame(
        [("d1", "hello world"), ("d2", "spark rocks")], ["doc_id", "text"]
    )
    write_orc(src, p)
    docs = load_orc(spark, p)
    assert {(r.doc_id, r.text) for r in docs.collect()} == {
        ("d1", "hello world"), ("d2", "spark rocks"),
    }


def test_reference_parity_line_encodings(spark):
    """word#####file \\t n and word@file \\t score — byte shapes of
    DocWordCount.java:62 and TFIDF.java:166."""
    docs = spark.createDataFrame([("f1.txt", "a a b")], ["doc_id", "text"])
    dwc = doc_word_count(tokenize(docs, " "))
    lines = {r.value for r in reference_doc_word_count_lines(dwc).collect()}
    assert "a#####f1.txt\t2" in lines and "b#####f1.txt\t1" in lines

    t = tfidf(docs, tokenizer_pattern=" ")
    tl = {r.value for r in reference_tfidf_lines(t).collect()}
    assert any(line.startswith("a@f1.txt\t") for line in tl)


def test_lsh_bucket_cap_drops_megabucket(spark):
    """With a cap below the boilerplate cluster size, the megacluster's
    pairs disappear; distinct small clusters survive."""
    boiler = "exact same boilerplate text repeated across many documents here"
    pair = "a unique pair of documents that nearly match each other closely"
    rows = [(i, boiler) for i in range(10)] + [(100, pair), (101, pair)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bands = D.lsh_bands(D.minhash_signatures(D.shingles(docs, k=3)))
    uncapped = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(bands).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.lsh_candidate_pairs(bands, max_bucket_size=5).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    assert any(a < 10 and b < 10 for a, b in uncapped)
    assert not any(a < 10 and b < 10 for a, b in capped)


def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 1.0)],
        ["k", "v"],
    )
    salted = {
        r.k: r.total
        for r in salted_agg(df, "k", F.sum("v"), "total", salt_buckets=8).collect()
    }
    plain = {
        r.k: r.total
        for r in df.groupBy("k").agg(F.sum("v").alias("total")).collect()
    }
    assert salted == plain


def test_skewed_broadcast_join_matches_plain(spark):
    fact = spark.createDataFrame(
        [(1, "x")] * 50 + [(2, "y"), (3, "z")], ["k", "payload"]
    )
    dim = spark.createDataFrame([(1, "A"), (2, "B"), (3, "C")], ["k", "label"])
    split = skewed_broadcast_join(fact, dim, "k", hot_keys=[1])
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, split.collect())) == sorted(map(tuple, plain.collect()))


def test_hash_split_deterministic_and_total(spark):
    """hash_split labels every row, is a pure function of the key (a
    subset recomputation agrees), and rejects non-100 totals."""
    import pytest as _pytest

    from hadoop_tfidf_spark.operators.sampling import hash_sample, hash_split

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    labeled = {r.doc_id: r.split for r in
               hash_split(docs, "doc_id", {"train": 90, "valid": 5, "test": 5}).collect()}
    assert len(labeled) == 500 and set(labeled.values()) <= {"train", "valid", "test"}
    # recomputing on a subset gives identical labels (ingest-stable splits)
    sub = {r.doc_id: r.split for r in
           hash_split(docs.limit(100), "doc_id", {"train": 90, "valid": 5, "test": 5}).collect()}
    assert all(labeled[k] == v for k, v in sub.items())
    # sample is the first buckets of the same hash → subset of train range
    n = hash_sample(docs, "doc_id", 10).count()
    assert 0 < n < 500
    with _pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"train": 50, "test": 49})


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64 tiny files -> sized-by-bytes single file; rows preserved and
    the census reports the before/after."""
    import glob

    from hadoop_tfidf_spark.sinks import compact_parquet

    src = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    spark.range(0, 10_000).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64
    stats = compact_parquet(spark, src, out, target_file_mb=128)
    assert stats["n_input_files"] == 64
    assert stats["n_output_files"] == 1
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert spark.read.parquet(out).count() == 10_000


def test_write_range_sorted_disjoint_file_ranges(spark, tmp_path):
    """Every output file owns a disjoint key range (repartitionByRange)
    and is internally sorted — the layout parquet min/max skipping needs."""
    import glob

    from hadoop_tfidf_spark.sinks import write_range_sorted

    out = str(tmp_path / "sorted")
    df = spark.range(0, 4_000).withColumnRenamed("id", "k").repartition(13)
    write_range_sorted(df, out, ["k"], n_files=4)
    ranges = []
    total = 0
    for f in glob.glob(f"{out}/*.parquet"):
        ks = [r.k for r in spark.read.parquet(f).collect()]
        assert ks == sorted(ks)  # sorted within the file
        ranges.append((min(ks), max(ks)))
        total += len(ks)
    assert total == 4_000
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # pairwise disjoint -> file-level pruning works


def test_load_events_normalizes_timestamp_schema(spark):
    ev = load_events(spark, SF_DIR_SMOKE)
    types = dict(ev.dtypes)
    assert types["ts_ns"] == "bigint"
    assert types["ts"] == "timestamp"
    row = ev.select(
        (F.col("ts_ns") - F.unix_micros("ts") * 1000).alias("d")
    ).agg(F.max(F.abs("d"))).collect()[0][0]
    assert row == 0


def test_load_events_does_not_mutate_session_timezone(spark):
    """The loader must not write session-global conf (beyond the read-path
    nanosAsLong flag): a caller's timezone survives, and the integer ts_ns
    column is identical under any session zone."""
    sec_sum = F.sum(F.expr("ts_ns div 1000000000")).alias("s")
    baseline = (
        load_events(spark, SF_DIR_SMOKE)
        .agg(sec_sum, F.count("*").alias("n"))
        .collect()[0]
    )
    prev = spark.conf.get(TZ_KEY)
    spark.conf.set(TZ_KEY, "America/New_York")
    try:
        ev = load_events(spark, SF_DIR_SMOKE)
        assert spark.conf.get(TZ_KEY) == "America/New_York"
        got = ev.agg(sec_sum, F.count("*").alias("n")).collect()[0]
        assert (got.s, got.n) == (baseline.s, baseline.n)
    finally:
        spark.conf.set(TZ_KEY, prev)


def test_load_events_ntz_interpreted_as_utc_any_session_zone(spark):
    """A TIMESTAMP_NTZ file must resolve to UTC-wallclock epochs (the
    DuckDB naive-timestamp contract) even under a non-UTC session zone —
    the exact failure mode of a plain cast(ntz as timestamp)."""
    import tempfile

    base = tempfile.mkdtemp(prefix="spark_graft_ntz_")
    wall = datetime.datetime(2001, 2, 3, 4, 5, 6, 123456)
    df = spark.createDataFrame(
        [(1, wall, 7, "click", 1.0, "{}")],
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{base}/events.parquet")
    want_ns = int(
        wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    ) * 1_000
    prev = spark.conf.get(TZ_KEY)
    for zone in ("UTC", "America/New_York", "Asia/Tokyo"):
        spark.conf.set(TZ_KEY, zone)
        try:
            got = load_events(spark, base).select("ts_ns").collect()[0].ts_ns
            assert got == want_ns, zone
        finally:
            spark.conf.set(TZ_KEY, prev)
