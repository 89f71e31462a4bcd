"""Event-time streaming operators over the ``events`` table shape
``(event_id, ts, user_id, event_type, value, props)``.

Each builder takes a *streaming* DataFrame (``spark.readStream``) and
returns a streaming DataFrame; the same transformations also accept a batch
DataFrame (minus watermark semantics), which is how the DuckDB oracle
checks the logic (see ``operators/relational.py`` batch twins).

Scale design: watermarks bound state (late rows beyond the watermark are
dropped, state for closed windows is evicted); aggregation state is keyed
on (window, event_type) / (user_id, session) — naturally partitioned across
executors by the shuffle. Output modes: ``update`` for dashboards,
``append`` + watermark for exactly-once sink files.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hadoop_tfidf_spark.operators.dedup import _words

#: Schema of the events stream (matches testdata ``events.parquet``).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


_STAGING_DIRS: list[str] = []


def staging_dir(prefix: str = "spark_graft_stream_") -> str:
    """Process-scoped temp staging dir for file-backed stream drains,
    removed at interpreter exit. Every gate/bench run that materializes a
    corpus copy to feed a file-source stream previously leaked that copy
    (one ``mkdtemp`` per query, never cleaned); registering the dirs for
    ``atexit`` removal bounds disk use to one session's working set."""
    path = tempfile.mkdtemp(prefix=prefix)
    if not _STAGING_DIRS:
        atexit.register(_cleanup_staging_dirs)
    _STAGING_DIRS.append(path)
    return path


def _cleanup_staging_dirs() -> None:
    _STAGED_SOURCES.clear()
    while _STAGING_DIRS:
        shutil.rmtree(_STAGING_DIRS.pop(), ignore_errors=True)


_STAGED_SOURCES: dict[tuple, str] = {}


def staged_source(
    key: tuple, write, prefix: str = "spark_graft_stage_"
) -> str:
    """Session-scoped content-keyed staging cache for READ-ONLY file
    stream sources: ``write(path)`` materializes the source once per
    ``key`` (e.g. ``("events", sf_dir, variant)``) per process, and
    every later query with the same key reuses the directory. A full
    gate/bench drive runs ~10 streaming queries; without the cache each
    one rewrote its own corpus copy (10 writes per drive), with it the
    drive does one write per distinct (table, sf_dir, variant). Dirs
    still come from :func:`staging_dir`, so atexit cleanup applies
    unchanged. NOT for per-run working dirs that a query mutates
    (incremental index builds) — those must stay private per run."""
    path = _STAGED_SOURCES.get(key)
    if path is not None and os.path.isdir(path):
        return path
    path = staging_dir(prefix)
    write(path)
    _STAGED_SOURCES[key] = path
    return path


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source event stream: picks up parquet files appearing under
    ``path``. At scale this is the same code against Kafka
    (``format("kafka")`` + from_json) — only the source line changes."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    exact_sums: bool = False,
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark.

    Batch twin: ``operators.relational.events_tumbling`` (epoch-hour key).
    Output: (window_start, window_end, event_type, n_events, total_value).

    ``exact_sums=True`` sums ``value`` as integer micro-units
    (``round(value*1e6)`` per row, BIGINT accumulate) and emits
    ``total_value_us`` instead of the rounded double. Float summation order
    differs between micro-batch state merges and a batch plan, so a
    6-decimal double can flip its last digit run-to-run; the integer sum is
    associative and therefore bit-identical to any batch/oracle engine —
    that's what the driver's hash gate checks.
    """
    value_sum = (
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
            "total_value_us"
        )
        if exact_sums
        else F.round(F.sum("value"), 6).alias("total_value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), value_sum)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_us" if exact_sums else "total_value",
        )
    )


def sliding_event_rates(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rates (overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    exact_sums: bool = False,
) -> DataFrame:
    """Native session windows (dynamic gap-based windows, state evicted at
    the watermark). Batch twin: ``operators.relational.sessionize`` — the
    gaps-and-islands formulation the oracle checks (boundary caveat: a gap
    of EXACTLY the threshold splits here — session_window merges only on
    strict overlap — while the batch twin's ``diff > gap`` keeps it; the
    hash-gated oracle for the streaming query uses ``>=`` to mirror this
    operator's semantics exactly).

    ``exact_sums`` emits ``total_value_us`` as an associative BIGINT sum
    (micro-units) instead of the rounded double — see
    :func:`windowed_event_counts`.
    """
    value_sum = (
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
            "total_value_us"
        )
        if exact_sums
        else F.round(F.sum("value"), 6).alias("total_value")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), value_sum)
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value_us" if exact_sums else "total_value",
        )
    )


def streaming_term_counts(docs: DataFrame) -> DataFrame:
    """Incremental corpus term statistics over a *document* stream
    ``(doc_id, text)``: running (word, n_docs_seen) counts — the streaming
    form of document frequency (reference O8 made incremental). Complete/
    update output mode. State honesty: the aggregation state is one row
    per word, but the watermarkless ``dropDuplicates([doc_id, word])``
    keeps one dedup-state row per (doc_id, word) EVER seen — fine for
    bounded drains (the gate) and as the per-batch delta inside
    ``foreachBatch`` (IncrementalTfidfStats, where each batch is
    finite), but a long-running raw stream grows that state with the
    corpus; the unbounded-ingest path is ``IncrementalTfidfStats``,
    which keeps seen ids in parquet instead of operator state."""
    tokens = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .dropDuplicates(["doc_id", "word"])
    )
    return tokens.groupBy("word").agg(F.count("*").alias("df"))


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a file-backed stream with the availableNow trigger into an
    in-memory sink; returns the sink table as a batch DataFrame. Test/demo
    harness — production uses a durable sink + checkpointLocation."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
