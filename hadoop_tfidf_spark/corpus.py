"""Corpus loading and tokenization (reference operators O1–O3).

Reference semantics being reproduced:

* O1 text-corpus scan — the reference reads a directory of plain-text files
  via ``TextInputFormat`` and recovers the document id from the input-split
  file name (``DocWordCount.java:35,54``). :func:`load_text_dir` reproduces
  that with ``spark.read.text`` + ``F.input_file_name()``; identity is file
  provenance, not a data column.
* O2 tokenize+flatten — every line is split with the Java regex
  ``\\s*\\b\\s*`` skipping empties (``DocWordCount.java:49,58–64``). Spark
  SQL's ``split`` uses the same ``java.util.regex`` engine, so
  :data:`REFERENCE_TOKEN_PATTERN` is bit-identical to the reference
  tokenizer: case-sensitive, punctuation runs are first-class terms,
  underscore is a word char, no stemming/stopwords.
* O3 empty-token filter — ``if (word.isEmpty()) continue;``
  (``DocWordCount.java:59–61``) → a ``WHERE word <> ''`` Catalyst can fold
  into the generate.

Scale note: tokenization is a narrow map (explode) — no shuffle. At 100 TB
the scan parallelism comes from parquet/text splits; the explode keeps the
input partitioning, so the first shuffle of any downstream pipeline is the
``groupBy`` in :func:`hadoop_tfidf_spark.tfidf.doc_word_count`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The reference tokenizer regex (DocWordCount.java:49). Spark runs the same
#: JVM regex engine, so behavior is bit-identical to the reference.
REFERENCE_TOKEN_PATTERN = r"\s*\b\s*"

#: Simple whitespace tokenizer — for corpora whose text is known to be
#: single-space separated (driver TESTDATA ``documents``); provably identical
#: between Spark and the DuckDB oracle (FIXTURES.md determinism constraints).
SPACE_TOKEN_PATTERN = " "


def load_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-per-document corpus loader (reference O1).

    Returns ``(doc_id STRING, text STRING)`` with one row per line, doc_id =
    the file *name* (not path) — exactly the reference's
    ``((FileSplit) ctx.getInputSplit()).getPath().getName()``
    (DocWordCount.java:54).
    """
    return spark.read.text(path).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"),
        F.col("value").alias("text"),
    )


#: Bytes per rebalance target partition when the input is larger than
#: ``defaultParallelism`` partitions' worth of data — matches Spark's
#: ``spark.sql.files.maxPartitionBytes`` default so a rebalanced blob
#: ends up split the way a splittable scan of the same bytes would be.
REBALANCE_TARGET_BYTES = 128 * 1024 * 1024

#: Upper bound on the size-derived partition count, as a multiple of
#: ``defaultParallelism``. Only a file scan's size statistic is exact; a
#: join's is an estimate (a cross join multiplies its inputs' sizes), and
#: one inflated estimate must not turn the rebalance into a
#: million-partition exchange.
REBALANCE_MAX_FACTOR = 4


def rebalance_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread an under-partitioned scan across the cluster's cores.

    Downstream per-document work (tokenize+aggregate, md5-per-shingle
    MinHash/fingerprint) is CPU-bound and narrow — it runs at the *scan's*
    parallelism. A corpus arriving as a few unsplittable files (single
    parquet row group, gzip text) pins all of it to a few cores. This
    helper round-robin repartitions **only when the scan has fewer
    partitions than ``defaultParallelism``** — on a real cluster reading
    a many-file 100 TB corpus the condition is false and this is a no-op
    (no shuffle inserted); when it does fire, the exchange moves only the
    raw input bytes, which the downstream CPU work dwarfs.

    The target count is scale-adaptive (round 17, guide §2.2): ``max(
    defaultParallelism, sizeInBytes / 128 MiB)``. Locally (small inputs)
    that is exactly the old ``defaultParallelism`` — bench behavior
    unchanged; at scale a handful of multi-GB unsplittable blobs would
    previously have been squeezed into ``defaultParallelism`` partitions
    regardless of size, so every downstream narrow stage ran with
    cluster-core-count × oversized tasks (and the §2.5 skew profile that
    implies). Size comes from the optimized plan's statistics (exact
    file-size sum for parquet scans — a driver-side lookup, no job); the
    count is capped at :data:`REBALANCE_MAX_FACTOR` × ``defaultParallelism``
    because other plans' statistics are estimates that can be inflated
    by orders of magnitude.
    """
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    if size >= 1 << 60:
        # Catalyst's "unknown" statistic is Long.MaxValue-ish; deriving a
        # partition count from it would be nonsense — fall back to the
        # parallelism floor rather than a billion-partition exchange.
        size = 0
    by_size = -(-size // REBALANCE_TARGET_BYTES)
    target = max(parallelism, min(by_size, REBALANCE_MAX_FACTOR * parallelism))
    return df.repartition(int(target))


def load_docs(
    spark: SparkSession,
    source: str | DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    rebalance: bool = False,
) -> DataFrame:
    """Generalized corpus loader: any parquet path or DataFrame with a
    document-id column and a text column → normalized ``(doc_id, text)``.

    The reference only supports text directories; the engine treats the
    corpus as a first-class table so any columnar source works (parquet
    keeps column pruning + predicate pushdown on the scan).
    ``rebalance=True`` applies :func:`rebalance_scan` — opt in for
    CPU-heavy downstream work (hash-per-shingle dedup/fingerprinting);
    for cheap projections/aggregations the extra exchange+stage costs
    more than the parallelism buys (measured on the bench set).
    """
    df = spark.read.parquet(source) if isinstance(source, str) else source
    df = df.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return rebalance_scan(df, spark) if rebalance else df


def load_csv(
    spark: SparkSession,
    path: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV corpus loader → normalized ``(doc_id, text)``. The reference has
    exactly one source format (text dirs); the engine treats sources as
    pluggable."""
    df = spark.read.option("header", header).option("sep", sep).csv(path)
    return df.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))


def load_orc(
    spark: SparkSession,
    path: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ORC corpus loader → normalized ``(doc_id, text)``. Spark's built-in
    ORC source keeps predicate pushdown + column pruning like parquet."""
    df = spark.read.orc(path)
    return df.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))


def load_jsonl(
    spark: SparkSession,
    path: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """JSON-lines corpus loader → normalized ``(doc_id, text)`` — the
    common LLM-pipeline interchange shape (one JSON doc per line)."""
    df = spark.read.json(path)
    return df.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))


def tokenize(docs: DataFrame, pattern: str = REFERENCE_TOKEN_PATTERN) -> DataFrame:
    """Tokenize + flatten (reference O2+O3): one output row per non-empty
    token: ``(doc_id, word)``.

    ``pattern`` is a Java regex passed to ``split``; the default reproduces
    the reference tokenizer bit-identically (same JVM regex engine). This is
    a narrow transformation — no shuffle.
    """
    return docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), pattern)).alias("word"),
    ).where(F.col("word") != "")
