"""Round-5 gate-hardening semantics: session-conf-clean events loader,
reference-tokenizer gate query, exact-sum streaming tumbling windows,
whole-second stream-stream interval join boundaries, and the de-vacuoused
gate relations (embedding near-dup, customers-without-orders-in-year)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.sources.events import load_events

SF_DIR_SMOKE = "/root/testdata/sf0.001"

TZ_KEY = "spark.sql.session.timeZone"


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


def test_reference_tokenizer_equals_space_split_on_wordchar_text(spark):
    """On the gate precondition (word-char tokens, single spaces) the Java
    `\\s*\\b\\s*` split and the space split emit the same rows; text that
    violates the precondition is excluded by the gate filter."""
    from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, tokenize
    from hadoop_tfidf_spark.declared import _WORDCHAR_TEXT

    docs = spark.createDataFrame(
        [
            ("d1", "hello world_2 x9"),
            ("d2", "single"),
            ("d3", "don't punct,uate"),  # violates the precondition
        ],
        "doc_id STRING, text STRING",
    )
    guarded = docs.where(F.col("text").rlike(_WORDCHAR_TEXT))
    ref = {(r.doc_id, r.word) for r in tokenize(guarded).collect()}
    space = {
        (r.doc_id, r.word)
        for r in tokenize(guarded, SPACE_TOKEN_PATTERN).collect()
    }
    assert ref == space
    assert {d for d, _ in ref} == {"d1", "d2"}
    # and on the violating doc the two tokenizers genuinely differ —
    # the guard is load-bearing, not decorative
    bad = docs.where(F.col("doc_id") == "d3")
    ref_bad = [r.word for r in tokenize(bad).collect()]
    space_bad = [r.word for r in tokenize(bad, SPACE_TOKEN_PATTERN).collect()]
    assert ref_bad != space_bad


def test_streaming_tumbling_complete_mode_equals_batch_exactly(spark):
    """Complete-mode drain + integer micro-unit sums == the batch twin's
    group-by bit-for-bit (no watermark withholding, no float-order ulp)."""
    import tempfile

    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        windowed_event_counts,
    )

    path = tempfile.mkdtemp(prefix="spark_graft_r5_tumble_")
    ev = load_events(spark, SF_DIR_SMOKE)
    ev.drop("ts_ns").write.mode("overwrite").parquet(path)
    stream = read_event_stream(spark, path, max_files_per_trigger=2)
    sink = run_to_completion(
        windowed_event_counts(stream, exact_sums=True),
        "t_r5_tumbling",
        output_mode="complete",
    )
    got = {
        (int(r.window_start.timestamp()) // 3600, r.event_type): (
            r.n_events,
            r.total_value_us,
        )
        for r in sink.collect()
    }
    batch = ev.groupBy(
        F.expr("ts_ns div 3600000000000").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("v"),
    )
    want = {(r.h, r.event_type): (r.n, r.v) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_interval_join_whole_second_boundaries(spark):
    """Boundary semantics the batch twin defines: a purchase sub-second
    BEFORE its click in the same second pairs, and a lag of exactly the
    horizon (after truncation) pairs. Raw-microsecond comparison fails
    both; the whole-second truncation makes them pair by construction."""
    import tempfile

    from hadoop_tfidf_spark.streaming.joins import click_purchase_stream_join
    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
    )

    t0 = datetime.datetime(2020, 1, 1, 10, 0, 0, tzinfo=datetime.timezone.utc)

    def at(sec, micro):
        return (t0 + datetime.timedelta(seconds=sec, microseconds=micro)).replace(
            tzinfo=None
        )

    rows = [
        # purchase .1s BEFORE the click, same wall second
        (1, at(0, 900_000), 1, "click", 0.0, "{}"),
        (2, at(0, 100_000), 1, "purchase", 5.0, "{}"),
        # lag straddling the horizon: raw 1800.05s, truncated exactly 1800s
        (3, at(0, 900_000), 2, "click", 0.0, "{}"),
        (4, at(1800, 950_000), 2, "purchase", 7.0, "{}"),
        # genuinely out of horizon even truncated (1801s)
        (5, at(0, 900_000), 3, "click", 0.0, "{}"),
        (6, at(1801, 950_000), 3, "purchase", 9.0, "{}"),
    ]
    events = spark.createDataFrame(
        [(i, ts, u, et, v, p) for (i, ts, u, et, v, p) in rows],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    path = tempfile.mkdtemp(prefix="spark_graft_r5_ivj_")
    events.write.mode("overwrite").parquet(path)
    stream = read_event_stream(spark, path)
    sink = run_to_completion(
        click_purchase_stream_join(stream), "t_r5_interval", output_mode="append"
    )
    got = {(r.click_id, r.purchase_id): r.lag_s for r in sink.collect()}
    assert got == {(1, 2): 0, (3, 4): 1800}

    # and the batch twin agrees on the same fixture
    from hadoop_tfidf_spark.operators.relational import (
        click_purchase_interval_join,
    )

    batch_ev = events.withColumn(
        "ts_ns", F.unix_micros("ts") * F.lit(1000)
    )
    want = {
        (r.click_id, r.purchase_id): r.lag_s
        for r in click_purchase_interval_join(batch_ev).collect()
    }
    assert got == want


def test_gate_relations_are_non_vacuous(spark):
    """The two rows the r4 verdict flagged as vacuous (empty == empty) now
    check real data at the gate SF."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.01"
    assert qs["dedup_embedding"](spark, sf).count() > 0
    assert qs["rel_customers_without_orders"](spark, sf).count() > 0


def test_order_gaps_are_dst_proof(spark):
    """Consecutive order dates must be exactly 86400s apart regardless of
    session timezone — a date->timestamp cast computes midnight in the
    session zone, making a spring-forward gap 90000s (the bug the
    New-York-zone contract drive caught)."""
    import datetime as dt

    from hadoop_tfidf_spark.operators.relational import order_gaps

    orders = spark.createDataFrame(
        [
            (1, 10, dt.date(2021, 3, 13), 10.0),  # day before US spring-forward
            (1, 11, dt.date(2021, 3, 14), 10.0),  # DST transition day
            (1, 12, dt.date(2021, 3, 15), 10.0),
        ],
        "o_custkey BIGINT, o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE",
    )
    prev = spark.conf.get(TZ_KEY)
    spark.conf.set(TZ_KEY, "America/New_York")
    try:
        gaps = [
            r.gap_s
            for r in order_gaps(orders).orderBy("order_seq").collect()
        ]
    finally:
        spark.conf.set(TZ_KEY, prev)
    assert gaps == [None, 86400, 86400]


def test_bm25_hand_computed_values(spark):
    """BM25 (k1=1.2, b=0.75) against hand-computed scores on a 2-doc
    corpus: idf(a)=ln(1.2), idf(b)=ln(2); tf_c from dl/avgdl; distinct
    query terms (a duplicated term must NOT double-count)."""
    from hadoop_tfidf_spark.search import bm25, query_term_bag
    from hadoop_tfidf_spark.tfidf import doc_word_count
    from hadoop_tfidf_spark.corpus import tokenize

    docs = spark.createDataFrame(
        [("d1", "a b"), ("d2", "a")], "doc_id STRING, text STRING"
    )
    dwc = doc_word_count(tokenize(docs, " "))
    bag = query_term_bag(spark, [("q", "a b a")])  # 'a' duplicated
    got = {
        r.doc_id: r.score
        for r in bm25(dwc, bag).collect()
    }
    import math
    idf_a, idf_b = math.log(1.2), math.log(2.0)
    want_d1 = round(idf_a * 0.88, 6) + round(idf_b * 0.88, 6)
    want_d2 = round(idf_a * (2.2 / 1.9), 6)
    assert got["d1"] == pytest.approx(want_d1, abs=1e-9)
    assert got["d2"] == pytest.approx(want_d2, abs=1e-9)


def test_fuzzy_pairs_exact_distances(spark):
    """Levenshtein verification over supplied candidate pairs: exact
    distances, threshold filter, and no all-pairs work (only listed
    candidates are scored)."""
    from hadoop_tfidf_spark.operators.dedup import fuzzy_pairs

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "zzzz")],
        "doc_id BIGINT, text STRING",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in fuzzy_pairs(docs, pairs).collect()
    }
    assert got == {(1, 2): 3, (1, 3): 0}  # classic kitten->sitting = 3
    kept = fuzzy_pairs(docs, pairs, max_dist=1).collect()
    assert [(r.doc_a, r.doc_b) for r in kept] == [(1, 3)]


def test_lm_score_hand_computed(spark):
    """Bigram-LM scores against hand-computed add-0.5-smoothed values:
    p(a b)=2.5/3, p(b a)=1.5/2 on the 3-bigram corpus; a 1-word doc gets
    0 bigrams and NULL score."""
    import math

    from hadoop_tfidf_spark.functions.text import lm_score

    docs = spark.createDataFrame(
        [("d1", "a b a"), ("d2", "a b"), ("d3", "a")],
        "doc_id STRING, text STRING",
    )
    got = {r.doc_id: (r.n_bigrams, r.lm_score) for r in lm_score(docs).collect()}
    # integer micro-log quantization, exactly as the operator computes
    lpu_ab = round(math.log10(2.5 / 3.0) * 1e6)
    lpu_ba = round(math.log10(1.5 / 2.0) * 1e6)
    assert got["d1"] == (2, round(((lpu_ab + lpu_ba) / 2) / 1e6, 6))
    assert got["d2"] == (1, round((lpu_ab / 1) / 1e6, 6))
    assert got["d3"] == (0, None)


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
