"""Streaming declared queries (windows, sessions, stateful, incremental, ledgers, online serving).

Split from the original single-module ``extensions.py`` (round 15) with
block text preserved verbatim; see the package ``__init__`` for the
registry contract.
"""

from __future__ import annotations

from hadoop_tfidf_spark.operators import dedup as D
from pyspark.sql import functions as F
from hadoop_tfidf_spark.corpus import load_docs
from hadoop_tfidf_spark.sources.events import load_events
from hadoop_tfidf_spark.extensions._base import (
    _emb,
    _tbl,
)
from hadoop_tfidf_spark.extensions._sim import (
    IVF_ITERS,
    IVF_K,
    IVF_UNITS,
    RP_TOPK_CANDIDATES,
    SIM_K,
    SIM_QUERY_IDS,
)
from hadoop_tfidf_spark.extensions._text import (
    DSIR_GATE_BUCKETS,
    DSIR_GATE_TARGET,
)



def q_streaming_incremental_df(spark, sf_dir):
    """Incremental TF-IDF document-frequency stats maintained by
    foreachBatch micro-batch upserts over a 4-file document stream — the
    final stats table must hash-match the BATCH document-frequency oracle
    (the whole point of the incremental path: same answer, maintained
    incrementally). Exercises generation-commit atomicity, batch-id
    idempotence, and the upsert merge end-to-end."""
    from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats
    from hadoop_tfidf_spark.streaming.windows import staging_dir

    base = staging_dir("spark_graft_incdf_")
    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/docs")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{base}/docs").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/docs")
    )
    stats = IncrementalTfidfStats(spark, f"{base}/stats")
    stats.attach(stream).awaitTermination()
    return stats.df_table()


def q_streaming_search(spark, sf_dir):
    """DQ5 search scores computed from the INCREMENTALLY-maintained stats:
    the document stream is drained into ``IncrementalTfidfStats`` (4-file
    micro-batch sequence), idf then comes from the maintained
    ``(word, df)`` + ``num_docs`` state while tf comes from the batch
    (word, doc, n) relation — and the result must hash-match the plain
    batch ``search`` oracle. This closes the loop between the streaming
    stats machinery and the reference's actual query surface (Search.java):
    same answer whether the corpus arrived at rest or as a stream."""
    from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, tokenize
    from hadoop_tfidf_spark.declared import SEARCH_QUERIES
    from hadoop_tfidf_spark.search import query_term_bag, search
    from hadoop_tfidf_spark.streaming.incremental import IncrementalTfidfStats
    from hadoop_tfidf_spark.streaming.windows import staging_dir
    from hadoop_tfidf_spark.tfidf import doc_word_count, term_frequency

    base = staging_dir("spark_graft_incsearch_")
    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/docs")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{base}/docs").schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{base}/docs")
    )
    stats = IncrementalTfidfStats(spark, f"{base}/stats")
    stats.attach(stream).awaitTermination()

    # tf from the corpus, idf from the maintained stats — the exact batch
    # arithmetic (log-tf × integer-division idf), so the rounded product
    # is bit-identical to _tfidf_rounded's
    dwc = doc_word_count(tokenize(docs, SPACE_TOKEN_PATTERN))
    tfidf_rel = term_frequency(dwc).join(stats.idf(), "word").select(
        "word", "doc_id", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")
    )
    bag = query_term_bag(spark, SEARCH_QUERIES)
    scored = search(tfidf_rel, bag)
    return scored.select(
        "query_id", "doc_id", F.round("score", 6).alias("score")
    )


def q_streaming_tumbling(spark, sf_dir):
    """Structured Streaming tumbling-window aggregation under the STRONG
    gate: the stream is drained with the availableNow trigger in *complete*
    output mode, so the final sink table is the full aggregation — which
    must hash-match the same DuckDB group-by the batch twin
    (``events_tumbling``) is checked against. Complete mode (not append)
    because append only emits watermark-closed windows: rows still open at
    drain time are withheld, making the output depend on file arrival order
    — correct streaming semantics, but not a deterministic gate relation
    (the append path stays covered by tests/test_streaming.py). Value sums
    ride as integer micro-units (`exact_sums`) so micro-batch merge order
    can't flip a float's last rounded digit."""
    import uuid

    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        staged_source,
        windowed_event_counts,
    )

    path = staged_source(
        ("events", sf_dir, "default"),
        lambda p: load_events(spark, sf_dir)
        .drop("ts_ns")
        .write.mode("overwrite")
        .parquet(p),
        prefix="spark_graft_stream_",
    )
    stream = read_event_stream(spark, path, max_files_per_trigger=4)
    name = f"stream_{uuid.uuid4().hex[:8]}"
    sink = run_to_completion(
        windowed_event_counts(stream, exact_sums=True), name, output_mode="complete"
    )
    return sink.select(
        F.expr("unix_timestamp(window_start) div 3600").alias("epoch_hour"),
        "event_type",
        "n_events",
        "total_value_us",
    )


def q_streaming_stateful_totals(spark, sf_dir):
    """applyInPandasWithState running totals under the STRONG gate: the
    stateful operator emits updated (n_events, total_value) per user per
    micro-batch; n_events strictly increases, so the max_by(n_events) row
    per user is the final state — which must hash-match the plain batch
    aggregation oracle. Proves custom state survives and composes across
    micro-batches, not just that rows came out."""
    import uuid

    from hadoop_tfidf_spark.streaming.stateful import running_user_totals
    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        staged_source,
    )

    path = staged_source(
        ("events", sf_dir, "default"),
        lambda p: load_events(spark, sf_dir)
        .drop("ts_ns")
        .write.mode("overwrite")
        .parquet(p),
        prefix="spark_graft_stream_",
    )
    stream = read_event_stream(spark, path, max_files_per_trigger=4)
    name = f"stream_{uuid.uuid4().hex[:8]}"
    updates = run_to_completion(
        running_user_totals(stream), name, output_mode="update"
    )
    # round(4): per-user sums reach ~5e4 and the two engines accumulate in
    # different orders — 4 decimals puts the rounding boundary ~7 orders of
    # magnitude above the float error instead of ~1
    return updates.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 4).alias("total_value"),
    )


def q_streaming_incremental_dedup(spark, sf_dir):
    """Incremental MinHash-LSH near-dup index maintained by foreachBatch
    over a 4-file document stream — the accumulated candidate pairs must
    hash-match the ONE-SHOT batch LSH oracle (the equivalence guarantee:
    cross-batch pairs surface via the new-vs-old index join, same-batch
    pairs via the self-join)."""
    from hadoop_tfidf_spark.streaming.dedup import IncrementalLshIndex
    from hadoop_tfidf_spark.streaming.windows import staging_dir

    base = staging_dir("spark_graft_incdedup_")
    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/docs")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{base}/docs").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/docs")
    )
    idx = IncrementalLshIndex(spark, f"{base}/idx")
    idx.attach(stream).awaitTermination()
    return idx.candidate_pairs()


def q_streaming_session(spark, sf_dir):
    """Structured Streaming native session windows under the STRONG gate:
    complete-mode drain (all sessions, none watermark-withheld) + integer
    micro-unit sums, hash-matched against a gaps-and-islands SQL oracle
    written to session_window's exact boundary semantics (split at gap
    >= threshold; the batch twin ``events_sessionize`` keeps > — see
    streaming/windows.py). The append-mode path stays covered by
    tests/test_streaming.py."""
    import uuid

    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        session_windows,
        staged_source,
    )

    path = staged_source(
        ("events", sf_dir, "default"),
        lambda p: load_events(spark, sf_dir)
        .drop("ts_ns")
        .write.mode("overwrite")
        .parquet(p),
        prefix="spark_graft_stream_",
    )
    stream = read_event_stream(spark, path, max_files_per_trigger=4)
    name = f"stream_{uuid.uuid4().hex[:8]}"
    sink = run_to_completion(
        session_windows(stream, exact_sums=True), name, output_mode="complete"
    )
    return sink.select(
        F.unix_timestamp("session_start").alias("session_start_s"),
        "user_id",
        "n_events",
        "total_value_us",
    )


def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join under the STRONG gate: the emitted
    pair set must hash-match the batch twin's oracle
    (``events_interval_join`` — identical whole-second band semantics by
    construction since round 5). Inner-join pairs are emitted exactly
    once as both sides arrive; the drain input is ONE sorted file
    (``coalesce(1)``) so availableNow sees a single deterministic batch —
    ``orderBy`` alone only range-partitions file *contents*, and the file
    source orders multiple files by modification time, so parallel task
    commit order could hand the watermark a late range first and evict a
    row whose partner is still pending (the role Kafka's per-partition
    time order plays in production)."""
    import uuid

    from hadoop_tfidf_spark.streaming.joins import click_purchase_stream_join
    from hadoop_tfidf_spark.streaming.windows import (
        read_event_stream,
        run_to_completion,
        staged_source,
    )

    path = staged_source(
        ("events", sf_dir, "ordered1"),
        lambda p: load_events(spark, sf_dir)
        .drop("ts_ns")
        .orderBy("ts")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p),
        prefix="spark_graft_stream_",
    )
    stream = read_event_stream(spark, path, max_files_per_trigger=4)
    name = f"stream_{uuid.uuid4().hex[:8]}"
    return run_to_completion(
        click_purchase_stream_join(stream), name, output_mode="append"
    )


def q_streaming_c4_filter(spark, sf_dir):
    """Stateless STREAMING curation: the C4 rule gate applied to a
    4-file document stream (one micro-batch per file) and drained with
    the availableNow trigger in append mode. A stateless projection has
    no watermark or state to withhold rows — every doc is emitted exactly
    once regardless of file pickup order — so the drained sink must
    hash-match the BATCH filter oracle verbatim: the same curation
    verdicts whether the corpus arrives at rest or as a stream."""
    import uuid

    from hadoop_tfidf_spark.functions.text import c4_quality_filters
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    base = staged_source(
        ("documents", sf_dir, "docs4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_c4stream_",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(base).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    out = run_to_completion(
        c4_quality_filters(stream),
        f"c4_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "word_dup_ratio",
        "stop_ratio",
        *[
            F.col(c).cast("int").alias(c)
            for c in ("pass_len", "pass_word_len", "pass_dup", "pass_stop", "keep")
        ],
    )


def q_streaming_decontaminate(spark, sf_dir):
    """STREAMING decontamination under the strong gate: candidate docs
    (doc_id % 10 != 0) arrive as a 4-file stream; each micro-batch
    builds its docs' distinct 3-gram shingles ROW-LOCALLY (array
    expression — stateless, no dropDuplicates state), stream-static
    LEFT-SEMI joins them against the static benchmark shingle set
    (doc_id % 10 == 0), and a doc_id-keyed streaming aggregation
    accumulates hit counts (complete mode — state is one row per doc
    with ≥ 1 hit). The drained stats drive the same rounded-ratio > 0.1
    drop rule as the batch apply, so the kept corpus must hash-match the
    ``text_decontaminate`` oracle verbatim: the same decontamination
    verdicts whether the corpus arrives at rest or as a stream. At scale
    the static side is a shuffled semi-join (benchmark shingle sets are
    millions of rows — Spark plans broadcast only when it fits)."""
    import uuid

    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    cand = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    bench_sh = (
        D.shingles(bench, k=3).select("shingle").distinct()
    )
    base = staged_source(
        ("documents", sf_dir, "cand4"),
        lambda p: cand.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_deconstream_",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(base).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    words = D._words(F.col("text"))
    staged = stream.where(F.size(words) >= 3).select(
        "doc_id", words.alias("_w")
    )
    grams = D._kgrams(F.col("_w"), 3)
    exploded = staged.select(
        "doc_id", F.array_distinct(grams).alias("_sh")
    ).select(
        "doc_id", F.size("_sh").alias("n_shingles"), F.explode("_sh").alias("shingle")
    )
    hit_stats = (
        exploded.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.max("n_shingles").alias("n_shingles"),
        )
    )
    stats = run_to_completion(
        hit_stats, f"decon_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )
    dropped = stats.where(
        F.round(F.col("n_hits") / F.col("n_shingles"), 6) > 0.1
    ).select("doc_id")
    return cand.join(dropped, "doc_id", "left_anti").select("doc_id", "text")


def q_streaming_mixture_weights(spark, sf_dir):
    """STREAMING data-mixture monitoring under the strong gate: per
    (source, lang) doc/token counts accumulate over a 4-file document
    stream (one stateless-input aggregation, state = one row per
    stratum — strata-sized, never corpus-sized), drained with
    availableNow in complete mode; shares and uniform-target weights are
    derived from the drained totals exactly as the batch operator does,
    so the result must hash-match the ``text_mixture_weights`` oracle
    verbatim — the mixture dashboard shows the same numbers during
    ingest as at rest."""
    import uuid

    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_mixstream_",
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    n_tokens = F.size(D._nonempty_words(F.col("text")))
    counts = stream.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("n_tokens"),
    )
    drained = run_to_completion(
        counts, f"mix_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )
    totals = drained.agg(
        F.sum("n_tokens").cast("bigint").alias("_total_tokens"),
        F.count("*").cast("bigint").alias("_n_strata"),
    )
    return drained.crossJoin(F.broadcast(totals)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_total_tokens"), 6).alias("token_share"),
        F.round(
            F.col("_total_tokens") / (F.col("_n_strata") * F.col("n_tokens")), 6
        ).alias("uniform_weight"),
    )


def q_streaming_source_stats(spark, sf_dir):
    """STREAMING per-source governance under the strong gate: the
    provenance dashboard maintained DURING ingest. Docs arrive as a
    4-file stream; two complete-mode aggregations accumulate (1) per
    (source, lang) doc/token counts — strata-sized state, the
    ``streaming_mixture_weights`` shape — and (2) per (source, word)
    presence for the distinct-vocabulary column — vocabulary-sized
    state, the ``streaming_incremental_df`` ledger class (at 100 TB the
    vocab ledger windows by arrival partition and merges downstream,
    same caveat as streaming DSIR). The drained relations finish with
    the identical batch arithmetic (sums, count-of-lang-rows, round 6,
    vocab join), so the result must hash-match the
    ``text_source_stats`` oracle verbatim: the governance numbers a
    curation pipeline reviews mid-crawl equal the numbers at rest."""
    import uuid

    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_srcstream_",
    )

    def _stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(base)
        )

    words = D._nonempty_words(F.col("text"))
    tag = uuid.uuid4().hex[:8]
    counts = run_to_completion(
        _stream()
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        ),
        f"srcstats_{tag}",
        output_mode="complete",
    )
    vocab_rows = run_to_completion(
        _stream()
        .select("source", F.explode(words).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("_n")),
        f"srcvocab_{tag}",
        output_mode="complete",
    )
    agg = counts.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_docs"), 6).alias("avg_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    vocab = vocab_rows.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab")
    )
    return agg.join(F.broadcast(vocab), "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "avg_tokens",
        F.coalesce(F.col("vocab"), F.lit(0)).cast("bigint").alias("vocab"),
        "n_langs",
    )


def q_streaming_bq_index(spark, sf_dir):
    """STREAMING ANN index ingest under the strong gate: the
    binary-quantization pack is stateless and training-free (no vmax,
    no codebooks — the property the BQ docstring claims makes it
    compose with streaming ingest; this row PROVES it), so the packed
    index is maintained by a pure append-mode map over a 4-file
    embedding stream — zero aggregation state — and the drained rows
    must hash-match the one-shot batch :func:`similarity.bq_build`
    replay verbatim: the index built during ingest IS the index built
    at rest, bit for bit."""
    import uuid

    from hadoop_tfidf_spark.operators.similarity import bq_build
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    emb = _emb(spark, sf_dir)
    base = staged_source(
        ("embeddings", sf_dir, "full4"),
        lambda p: emb.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_bqstream_",
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    packed = bq_build(stream, units=IVF_UNITS, in_dim=64)
    drained = run_to_completion(
        packed, f"bqidx_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return drained.select(
        "vec_id",
        F.col("_bq").getItem(0).alias("bq_w0"),
        F.col("_bq").getItem(1).alias("bq_w1"),
    )


def q_streaming_phash_dedup(spark, sf_dir):
    """STREAMING perceptual image dedup under the strong gate: docs
    arrive as a 4-file stream, each micro-batch synthesizes payloads
    and average-hashes frame 0 ROW-LOCALLY (both Arrow ``mapInPandas``
    stages are stateless, so they apply unchanged to a streaming
    relation), and a phash-keyed streaming aggregation accumulates the
    perceptual-dup ledger — group size + surviving (min) doc id — in
    complete mode (state is one row per distinct hash, 72 at sf0.01).
    The drained ledger must hash-match the one-shot batch groups from
    the analytic oracle: the same dedup verdicts during ingest as at
    rest, the image-modality twin of ``streaming_incremental_dedup``.
    Registered past-cap this round (the window is full of mandated
    entries); round-10 rotation priority with ``sim_pca_topk``."""
    import uuid

    from hadoop_tfidf_spark.operators.multimodal import (
        media_phash,
        with_binary_payload,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_phashstream_",
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    groups = (
        media_phash(with_binary_payload(stream.select("doc_id", "text")))
        .groupBy("phash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
    )
    return run_to_completion(
        groups, f"phash_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )


def q_streaming_dsir(spark, sf_dir):
    """STREAMING data selection under the strong gate: the DSIR ratio
    table trains once from the static corpus (the shippable
    ``n_buckets``-row model), then candidate docs arrive as a 4-file
    stream and each micro-batch scores ROW-LOCALLY (staged-array
    bigrams -> md5 bucket, stateless) through a stream-static broadcast
    join against the ratios; a doc_id-keyed streaming aggregation
    accumulates exact integer feature sums (complete mode — state is
    one row per scored doc, the same caveat as streaming
    decontamination: at 100 TB you would window the scoring by arrival
    partition and merge downstream). The drained sums finish with the
    identical /1e6 rounding + NULL-row left join as the batch operator,
    so the result must hash-match the ``text_dsir`` oracle verbatim:
    the same importance weights during ingest as at rest."""
    import uuid

    from hadoop_tfidf_spark.operators.sampling import (
        dsir_feature_buckets,
        dsir_ratios,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = _tbl(spark, sf_dir, "documents")
    # persist the trained ratio table: the static side of a
    # stream-static join is RE-EVALUATED every micro-batch, so without
    # this the full-corpus bigram aggregation ran once per arriving
    # file (4x here; once per trigger at scale) instead of once per
    # train (guide §2.4 — don't recompute what one pass already built).
    # 256 rows — the persist is model-sized, values unchanged.
    ratios = dsir_ratios(
        docs, F.col("source") == DSIR_GATE_TARGET, n_buckets=DSIR_GATE_BUCKETS
    ).persist()
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_dsirstream_",
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    scored = (
        dsir_feature_buckets(stream, n_buckets=DSIR_GATE_BUCKETS)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("lr_u").cast("bigint").alias("_lr_sum"),
        )
    )
    drained = run_to_completion(
        scored, f"dsir_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )
    # the drained memory table is all the result reads; release the model
    ratios.unpersist()
    return (
        docs.select("doc_id")
        .join(drained, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias(
                "n_feats"
            ),
            F.round(F.col("_lr_sum") / F.lit(1_000_000.0), 6).alias(
                "dsir_logratio"
            ),
        )
    )


def q_streaming_source_stats_update(spark, sf_dir):
    """UPDATE-mode streaming governance — the production variant of
    ``streaming_source_stats``: instead of a complete-mode drain that
    re-emits the FULL ledger every trigger (fine as a gate twin, wrong
    at 100 TB output), each micro-batch emits only the (source, lang)
    rows whose counts CHANGED, and ``foreachBatch`` upserts them into a
    durable parquet ledger keyed by batch id — the foreachBatch+MERGE
    deployment shape. Final state = latest row per key (one window over
    the ledger, ledger size ≤ triggers × strata, never corpus-sized);
    finished with the same per-source arithmetic as the batch
    dashboard, so the hash row proves upsert-reconstructed state ==
    state at rest. Vocab is deliberately out of scope here (the
    complete-mode twin covers it); this row's subject is the update
    OUTPUT contract. Since round 13 the ledger writes are generation-
    keyed overwrites (streaming/ledger.py) — replay-idempotent under
    foreachBatch's at-least-once contract, pinned by test."""
    import uuid

    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_upsert,
        read_ledger,
        reconstruct_latest,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        staged_source,
        staging_dir,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_srcstream_",
    )
    words = D._nonempty_words(F.col("text"))
    counts = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        )
    )
    run = staging_dir(prefix=f"spark_graft_srcupd_{uuid.uuid4().hex[:8]}_")
    sink, ckpt = f"{run}/ledger", f"{run}/ckpt"

    # Production: MERGE INTO the governance table on (source, lang). The
    # gate twin overwrites a batch_id=N generation dir per trigger, so
    # the ledger keeps the upsert ORDER (latest generation per key wins)
    # and a replayed batch rewrites itself instead of duplicating.
    (
        counts.writeStream.outputMode("update")
        .foreachBatch(ledger_upsert(sink))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    final = reconstruct_latest(read_ledger(spark, sink), ["source", "lang"])
    return final.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_docs"), 6).alias("avg_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
    )


def q_streaming_ledger_compact(spark, sf_dir):
    """Round 13 — GENERATION COMPACTION for the update-mode ledgers: the
    missing piece of their 100 TB story. The ledgers reconstruct state
    as latest-row-per-key over ALL generations, so an always-on stream's
    reconstruction cost grows with commit count forever; production
    periodically folds old generations into one base (a table format's
    OPTIMIZE/rewrite). This row runs the same 4-trigger source-stats
    update stream as ``streaming_source_stats_update``, folds
    generations 0..2 into one base via ``compact_ledger``
    (streaming/ledger.py), and re-derives the per-source roll-up from
    the compacted ledger — which must hash-match the SAME batch oracle,
    plus a pinned ``n_generations = 2`` column (base + the one newer
    generation) proving the fold actually happened and newer deltas
    still shadow the base."""
    import uuid

    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
        read_ledger,
        reconstruct_latest,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        staged_source,
        staging_dir,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_srcstream_",
    )
    words = D._nonempty_words(F.col("text"))
    counts = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        )
    )
    run = staging_dir(prefix=f"spark_graft_srccmp_{uuid.uuid4().hex[:8]}_")
    sink, ckpt = f"{run}/ledger", f"{run}/ckpt"
    (
        counts.writeStream.outputMode("update")
        .foreachBatch(ledger_upsert(sink))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    compact_ledger(spark, sink, ["source", "lang"], through=2)
    ledger = read_ledger(spark, sink)
    n_gens = ledger.select("batch_id").distinct().count()
    final = reconstruct_latest(ledger, ["source", "lang"])
    return final.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_docs"), 6).alias("avg_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
    ).withColumn("n_generations", F.lit(n_gens).cast("bigint"))


def q_streaming_ledger_policy(spark, sf_dir):
    """Round 14 — the compaction POLICY under the gate: the same
    4-trigger source-stats update stream as
    ``streaming_source_stats_update``, but the sink itself folds every
    ``compact_every=2`` commits (``ledger_upsert(keys=…,
    compact_every=2)``) — no operator remembering to call
    ``compact_ledger``, the policy SCALE.md names runs inside the
    foreachBatch callback, which Structured Streaming executes serially
    per query (single-writer by construction). The fold point is the
    PREVIOUS batch (``through = B - 1``): folding the triggering batch
    itself would wedge the stream on the guaranteed at-least-once
    replay after a crash-before-checkpoint-commit (ledger_upsert's
    docstring). 4 triggers → the batch-1 fold is a no-op (only
    generation 0 precedes it), the batch-3 fold lands a base at
    batch_id=2 → the stream ENDS with exactly TWO generations, pinned
    by the ``n_generations`` column; the reconstruction still
    hash-matches the same batch oracle, proving the always-on stream's
    read path stays flat without losing a row."""
    import uuid

    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_upsert,
        read_ledger,
        reconstruct_latest,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        staged_source,
        staging_dir,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_srcstream_",
    )
    words = D._nonempty_words(F.col("text"))
    counts = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        )
    )
    run = staging_dir(prefix=f"spark_graft_srcpol_{uuid.uuid4().hex[:8]}_")
    sink, ckpt = f"{run}/ledger", f"{run}/ckpt"
    (
        counts.writeStream.outputMode("update")
        .foreachBatch(
            ledger_upsert(sink, keys=["source", "lang"], compact_every=2)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    ledger = read_ledger(spark, sink)
    n_gens = ledger.select("batch_id").distinct().count()
    final = reconstruct_latest(ledger, ["source", "lang"])
    return final.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_docs"), 6).alias("avg_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
    ).withColumn("n_generations", F.lit(n_gens).cast("bigint"))


def q_streaming_phash_dedup_update(spark, sf_dir):
    """UPDATE-mode perceptual-dedup ledger — the production variant of
    ``streaming_phash_dedup`` (same rationale as
    ``streaming_source_stats_update``): the complete-mode twin re-emits
    every phash group per trigger; here each micro-batch emits only the
    groups whose membership CHANGED, ``foreachBatch`` upserts them into
    a batch-id-keyed parquet ledger, and latest-row-per-key
    reconstruction must hash-match the batch groups (the
    ``streaming_phash_dedup`` oracle verbatim). Output volume scales
    with the delta per trigger; ledger rows ≤ triggers × distinct
    hashes, never corpus-sized. Generation-keyed replay-idempotent
    writes since round 13 (streaming/ledger.py)."""
    import uuid

    from hadoop_tfidf_spark.operators.multimodal import (
        media_phash,
        with_binary_payload,
    )
    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_upsert,
        read_ledger,
        reconstruct_latest,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        staged_source,
        staging_dir,
    )

    docs = _tbl(spark, sf_dir, "documents")
    base = staged_source(
        ("documents", sf_dir, "full4"),
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_phashstream_",
    )
    groups = (
        media_phash(
            with_binary_payload(
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(base)
                .select("doc_id", "text")
            )
        )
        .groupBy("phash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
    )
    run = staging_dir(prefix=f"spark_graft_phashupd_{uuid.uuid4().hex[:8]}_")
    sink, ckpt = f"{run}/ledger", f"{run}/ckpt"

    (
        groups.writeStream.outputMode("update")
        .foreachBatch(ledger_upsert(sink))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return reconstruct_latest(read_ledger(spark, sink), ["phash"]).select(
        "phash", "n_docs", "keep_doc_id"
    )


def q_streaming_knn_bq(spark, sf_dir):
    """ONLINE retrieval during ingest — the serving twin of the index
    rows: query vectors arrive as a stream and each micro-batch is
    answered against the STATIC prebuilt BQ index (``bq_build`` once,
    passed via ``index=`` — the stored-index production shape) with the
    same two-stage popcount-xor + exact-re-rank search the batch row
    runs; each batch's results land in that batch's own generation dir
    (streaming/ledger.py overwrite — a replayed micro-batch rewrites
    itself instead of duplicating result rows, matching the update
    twins' idempotence). The accumulated answers must hash-match the
    one-shot batch ``sim_topk_bq`` oracle verbatim: answering queries
    as they arrive loses nothing vs answering them at rest. Scale: the
    stream side is query-sized, the static side is the packed index
    scan stage-1 already bounds — foreachBatch here is exactly a
    serving loop."""
    import uuid

    from hadoop_tfidf_spark.operators.similarity import bq_build, bq_topk
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert, read_ledger
    from hadoop_tfidf_spark.streaming.windows import (
        staged_source,
        staging_dir,
    )

    emb = _emb(spark, sf_dir)
    index = bq_build(emb, units=IVF_UNITS, in_dim=64)
    qdf = emb.where(F.col("vec_id").isin(SIM_QUERY_IDS))
    base = staged_source(
        ("embeddings", sf_dir, "queries2"),
        lambda p: qdf.repartition(2).write.mode("overwrite").parquet(p),
        prefix="spark_graft_knnstream_",
    )
    run = staging_dir(prefix=f"spark_graft_knnout_{uuid.uuid4().hex[:8]}_")
    sink, ckpt = f"{run}/results", f"{run}/ckpt"

    write_gen = ledger_upsert(sink)

    def serve(batch_df, batch_id):
        write_gen(
            bq_topk(
                emb, batch_df, k=SIM_K, candidates=RP_TOPK_CANDIDATES,
                units=IVF_UNITS, in_dim=64, index=index,
            ),
            batch_id,
        )

    (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
        .writeStream.outputMode("append")
        .foreachBatch(serve)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return read_ledger(spark, sink).select("query_id", "vec_id", "d2_u", "rn")


def q_streaming_decontaminate_bloom(spark, sf_dir):
    """Round 13 — STATELESS streaming decontamination with a PREBUILT
    broadcast Bloom filter: the benchmark folds into a 16 KiB bitmap
    ONCE (``bloom_bitmap`` — the per-benchmark-release artifact), the
    candidate corpus arrives as a 4-file stream, and every verdict is
    computed ROW-LOCALLY inside the micro-batch projection
    (``contamination_bloom_stateless``) — pure append mode with NO
    state, NO watermark, and NO stream-static join. Contrast with
    ``streaming_decontaminate`` (stream-static semi-join + a
    complete-mode doc-keyed aggregation whose state grows with hit
    docs): this is the ingest-time curation shape at 100 TB — the
    benchmark set rides the plan as a constant, state stays zero
    forever, and a benchmark refresh is a 16 KiB artifact redeploy.
    The drained verdicts must hash-match the batch bitmap replay
    verbatim (every candidate doc emitted exactly once, including
    sub-k-word docs kept by the no-evidence rule)."""
    import uuid

    from hadoop_tfidf_spark.functions.text import (
        bloom_bitmap,
        contamination_bloom_stateless,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    docs = load_docs(spark, f"{sf_dir}/documents.parquet")
    cand = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    bm = bloom_bitmap(bench, k=3)
    base = staged_source(
        ("documents", sf_dir, "cand4"),
        lambda p: cand.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_bloomstream_",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(base).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    return run_to_completion(
        contamination_bloom_stateless(stream, bm, max_overlap=0.1),
        f"bloomdecon_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )


def q_streaming_ivfsq_index(spark, sf_dir):
    """STREAMING ingest for the TRAINED index tier: the IVF-SQ8 index's
    coarse centroids and vmax train ONCE from the static corpus
    (:func:`similarity.ivfsq_build` — the stored training artifacts),
    then a 4-file embedding stream is encoded by the stateless
    :func:`similarity.ivfsq_encode` projection in pure append mode —
    zero aggregation state, the trained-tier counterpart of
    ``streaming_bq_index``'s zero-training pack. The drained rows carry
    an md5 over the full byte-code sequence, so the hash row pins every
    byte of every streamed code against the batch build replay: the
    index maintained during ingest IS the index built at rest."""
    import uuid

    from hadoop_tfidf_spark.operators.similarity import (
        ivfsq_build,
        ivfsq_encode,
    )
    from hadoop_tfidf_spark.streaming.windows import (
        run_to_completion,
        staged_source,
    )

    emb = _emb(spark, sf_dir)
    _, cents, vmax = ivfsq_build(
        emb, coarse_k=IVF_K, coarse_iters=IVF_ITERS,
        units=IVF_UNITS, in_dim=64,
    )
    base = staged_source(
        ("embeddings", sf_dir, "full4"),
        lambda p: emb.repartition(4).write.mode("overwrite").parquet(p),
        prefix="spark_graft_ivfsqstream_",
    )
    packed = ivfsq_encode(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base),
        cents,
        vmax,
        units=IVF_UNITS,
        in_dim=64,
    )
    drained = run_to_completion(
        packed, f"ivfsqidx_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return drained.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("_sq"), lambda x: x.cast("string"))
            ).cast("binary")
        ).alias("sq_md5"),
    )
