"""Structured Streaming tests: file-source event stream drained with the
availableNow trigger into a memory sink; results cross-checked against the
batch twins (the DuckDB-oracle-verified formulations)."""

from __future__ import annotations

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

SF_DIR = "/root/testdata/sf0.001"


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
