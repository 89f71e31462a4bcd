"""Structured Streaming tests: file-source event stream drained with the
availableNow trigger into a memory sink; results cross-checked against the
batch twins (the DuckDB-oracle-verified formulations)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators.relational import events_tumbling
from hadoop_tfidf_spark.sources.events import load_events
from hadoop_tfidf_spark.streaming.windows import (
    read_event_stream,
    run_to_completion,
    session_windows,
    streaming_term_counts,
    windowed_event_counts,
)
from tests.conftest import SF_DIR_SMOKE

SF_DIR = SF_DIR_SMOKE


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Micros-precision copy of the events table as a streaming source dir
    (the raw testdata file is nanos, which the file stream source can't
    schema-infer)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, SF_DIR).drop("ts_ns").write.mode("overwrite").parquet(path)
    return path


def test_windowed_counts_match_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=2)
    result = run_to_completion(
        windowed_event_counts(stream), "t_windowed", output_mode="append"
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in result.collect()
    }
    batch = events_tumbling(load_events(spark, SF_DIR))
    want = {}
    for r in batch.collect():
        key_start = r.epoch_hour * 3600
        want[(key_start, r.event_type)] = (r.n_events, r.total_value)
    got_norm = {
        (int(k[0].timestamp()), k[1]): v for k, v in got.items()
    }
    # Append mode only emits windows CLOSED by the watermark — windows
    # still open when the stream drains are withheld (correct late-data
    # semantics, not loss). Require completeness up to max_ts - watermark.
    max_ts = load_events(spark, SF_DIR).agg(
        F.max(F.col("ts_ns") / 1e9).alias("m")
    ).collect()[0].m
    closed = {
        k: v for k, v in want.items() if k[0] + 3600 <= max_ts - 2 * 3600
    }
    assert set(closed) <= set(got_norm)
    assert set(got_norm) <= set(want)
    for key, (n, total) in got_norm.items():
        assert want[key][0] == n, key
        # float sums: streaming micro-batch order ≠ batch order, so the
        # 6th rounded decimal can differ — compare to 1e-4
        assert want[key][1] == pytest.approx(total, abs=1e-4), key


def test_session_windows_run(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    result = run_to_completion(
        session_windows(stream, gap="30 minutes"), "t_sessions", output_mode="append"
    )
    rows = result.collect()
    assert len(rows) > 0
    assert {"session_start", "session_end", "user_id", "n_events", "total_value"} <= set(
        result.columns
    )
    assert all(r.n_events >= 1 for r in rows)


def test_sliding_windows_overlap(spark, event_dir):
    """Sliding windows (1h window / 15min slide): each event lands in 4
    overlapping windows, so total window-event membership = 4× events
    (modulo edge windows at stream end withheld by the watermark)."""
    from hadoop_tfidf_spark.streaming.windows import sliding_event_rates

    stream = read_event_stream(spark, event_dir)
    result = run_to_completion(
        sliding_event_rates(stream), "t_sliding", output_mode="append"
    )
    rows = result.collect()
    assert len(rows) > 0
    starts = sorted({r.window_start for r in rows})
    # slide = 15 min: consecutive distinct starts are 900s apart
    gaps = {
        int((b - a).total_seconds()) for a, b in zip(starts, starts[1:])
    }
    assert gaps and all(g % 900 == 0 for g in gaps)


def test_streaming_term_counts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs_stream"))
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a")], ["doc_id", "text"]
    )
    docs.write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    result = run_to_completion(
        streaming_term_counts(stream), "t_terms", output_mode="complete"
    )
    got = {r.word: r.df for r in result.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_streaming_dsir_matches_batch(spark, tmp_path_factory):
    """The streaming DSIR scorer (stream-static broadcast of the trained
    ratio table, doc_id-keyed accumulation) drains to EXACTLY the batch
    operator's output — integer feature sums make arrival order
    irrelevant."""
    import uuid

    from pyspark.sql import functions as F

    from hadoop_tfidf_spark.operators.sampling import (
        dsir_feature_buckets,
        dsir_importance,
        dsir_ratios,
    )
    from hadoop_tfidf_spark.streaming.windows import run_to_completion

    rows = [
        (i, f"alpha beta w{i % 5} gamma delta", "t" if i % 4 == 0 else "raw")
        for i in range(40)
    ] + [(99, "single", "raw")]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, source STRING"
    )
    base = str(tmp_path_factory.mktemp("dsir_stream"))
    docs.repartition(3).write.mode("overwrite").parquet(base)

    ratios = dsir_ratios(docs, F.col("source") == "t", n_buckets=16)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    scored = (
        dsir_feature_buckets(stream, n_buckets=16)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("lr_u").cast("bigint").alias("_lr_sum"),
        )
    )
    drained = run_to_completion(
        scored, f"tdsir_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )
    got = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in docs.select("doc_id")
        .join(drained, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias("n_feats"),
            F.round(F.col("_lr_sum") / F.lit(1_000_000.0), 6).alias(
                "dsir_logratio"
            ),
        )
        .collect()
    }
    want = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(
            docs, F.col("source") == "t", n_buckets=16
        ).collect()
    }
    assert got == want
    assert got[99] == (0, None)


def test_streaming_dsir_releases_its_ratio_table(spark):
    """The declared streaming DSIR query persists its trained ratio table
    only while the stream drains: once it returns, the cache manager is
    empty again, and the result (which reads the drained sink, not the
    table) still answers."""
    from hadoop_tfidf_spark.extensions import q_streaming_dsir

    spark.catalog.clearCache()
    out = q_streaming_dsir(spark, SF_DIR)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert out.count() > 0


def test_streaming_staging_dirs_registered_for_cleanup():
    """staging_dir() creates real dirs and registers them for atexit
    removal; manual cleanup empties the registry."""
    import os

    from hadoop_tfidf_spark.streaming.windows import (
        _STAGING_DIRS,
        _cleanup_staging_dirs,
        staging_dir,
    )

    before = list(_STAGING_DIRS)
    d = staging_dir("spark_graft_test_")
    assert os.path.isdir(d) and d in _STAGING_DIRS
    _cleanup_staging_dirs()
    assert not os.path.isdir(d) and not _STAGING_DIRS
    # earlier dirs from this session were removed too (best-effort)
    for p in before:
        assert not os.path.isdir(p)


def test_interval_join_streaming_matches_batch(spark):
    """The stream-stream interval join must produce exactly the batch
    twin's pair set (same horizon), drained with availableNow."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    batch = {
        (r.click_id, r.purchase_id)
        for r in qs["events_interval_join"](spark, SF_DIR_SMOKE).collect()
    }
    stream = {
        (r.click_id, r.purchase_id)
        for r in qs["streaming_interval_join"](spark, SF_DIR_SMOKE).collect()
    }
    assert stream == batch and len(batch) > 0


def test_streaming_tumbling_complete_mode_equals_batch_exactly(spark):
    """Complete-mode drain + integer micro-unit sums == the batch twin's
    group-by bit-for-bit (no watermark withholding, no float-order ulp)."""
    import tempfile

    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        windowed_event_counts,
    )

    path = tempfile.mkdtemp(prefix="spark_graft_tumble_exact_")
    ev = load_events(spark, SF_DIR_SMOKE)
    ev.drop("ts_ns").write.mode("overwrite").parquet(path)
    stream = read_event_stream(spark, path, max_files_per_trigger=2)
    sink = run_to_completion(
        windowed_event_counts(stream, exact_sums=True),
        "t_tumbling_exact",
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
    path = tempfile.mkdtemp(prefix="spark_graft_ivj_boundaries_")
    events.write.mode("overwrite").parquet(path)
    stream = read_event_stream(spark, path)
    sink = run_to_completion(
        click_purchase_stream_join(stream), "t_interval_boundaries", output_mode="append"
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
