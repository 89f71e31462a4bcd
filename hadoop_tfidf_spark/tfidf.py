"""TF-IDF relations as composable lazy DataFrame functions (reference
operators O5–O12, O18).

The reference computes these as 2 chained MapReduce jobs with full HDFS
text materialization and string re-parsing between them (TFIDF.java:36–78,
the reverse-split re-parse at TFIDF.java:115–136). Here each relation is a
pure function of the previous DataFrame; Catalyst pipelines the whole thing
into one plan that reads the text once. It has two logical regroupings (hash
by (word, doc_id) for the count, hash by word for the document frequency),
the df branch reads the count's exchange through a ``ReusedExchange``, and
every aggregate gets automatic map-side partial aggregation — the combiner
the reference never configured (DocWordCount.java:37–38).

Semantics pinned to the reference:

* tf = 1 + log10(count)                      (TermFrequency.java:81)
* df(t) = number of distinct docs containing t  (HashMap size, TFIDF.java:158)
* idf = log10(1 + numDocs / df) with **integer (floor) division** — Java
  ``int/int`` (TFIDF.java:163). ``exact_idf=True`` switches to true division.
* numDocs is a user-supplied scalar in the reference (CLI args[3],
  TFIDF.java:58); here it defaults to the corpus count computed inside the
  plan (a 1-row aggregate broadcast into a cross join — no driver action,
  stays lazy and cluster-scale-safe).

Scale notes (100 TB): the df(t) aggregation keys on ``word`` — a Zipfian
key. Partial aggregation collapses each map partition's counts first, so
the shuffled volume is O(distinct (word,doc) per partition), not O(tokens);
AQE skew handling splits any residual hot ``word`` partitions. The join of
tf with df is on ``word``: df(t) has at most |vocabulary| rows (tiny vs the
corpus), so Catalyst/AQE picks a broadcast hash join and the tf side never
reshuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_word_count(tokens: DataFrame) -> DataFrame:
    """Per-(word, doc) count (reference O5: sum of 1s, DocWordCount.java:68–79).

    ``groupBy(word, doc_id).count()`` — Catalyst emits partial+final
    HashAggregate, i.e. the map-side combine the reference lacked.
    Returns ``(word, doc_id, n BIGINT)``.
    """
    return tokens.groupBy("word", "doc_id").agg(F.count("*").alias("n"))


def term_frequency(dwc: DataFrame) -> DataFrame:
    """Log-scaled term frequency (reference O6, TermFrequency.java:81):
    ``tf = 1 + log10(n)``. Pure projection — no shuffle."""
    return dwc.select(
        "word", "doc_id", "n", (F.lit(1.0) + F.log10(F.col("n"))).alias("tf")
    )


def doc_frequency(dwc: DataFrame) -> DataFrame:
    """Document frequency df(t) (reference O8, TFIDF.java:147–158).

    The reference collects a per-word HashMap {doc → tf} and takes its size;
    since (word, doc_id) is already unique post-count and every ``n >= 1``,
    ``SUM(LEAST(n, 1))`` per word equals ``COUNT(DISTINCT doc_id)``.
    Returns ``(word, df BIGINT)``.
    """
    # Reading ``n`` keeps the lower aggregate's ``count(1) AS n``, so this
    # subtree is canonically equal to the tf branch's and Spark plans one
    # ReusedExchange over the (word, doc_id) exchange. Neither
    # ``count("*")`` (column pruning drops ``n``) nor ``count("n")``
    # (folded to ``count(1)``, then pruned) gets that reuse.
    return dwc.groupBy("word").agg(F.sum(F.least("n", F.lit(1))).alias("df"))


def _idf(num_docs: Column, exact: bool = False) -> Column:
    """``log10(1 + numDocs / df)`` over a ``df`` column, with the
    reference's integer (floor) division unless ``exact`` (TFIDF.java:163)."""
    ratio = num_docs / F.col("df")
    return F.log10(F.lit(1.0) + (ratio if exact else F.floor(ratio)))


def _num_docs_df(docs: DataFrame) -> DataFrame:
    """1-row relation ``(num_docs BIGINT)`` computed inside the plan.

    The reference takes numDocs as a CLI arg (TFIDF.java:58); computing it
    lazily as an aggregate keeps the plan driver-action-free and lets
    Catalyst broadcast the single row into the consuming cross join.
    """
    return docs.agg(F.count("*").alias("num_docs"))


def tfidf(
    docs: DataFrame,
    tokens: DataFrame | None = None,
    num_docs: int | None = None,
    exact_idf: bool = False,
    tokenizer_pattern: str | None = None,
    persist_intermediate: bool = False,
) -> DataFrame:
    """TF-IDF scores ``(word, doc_id, tf, df, tfidf)`` (reference O9–O10,
    TFIDF.java:163–170).

    idf defaults to the reference's integer-division form
    ``log10(1 + FLOOR(numDocs / df))``; ``exact_idf=True`` uses true
    division. ``num_docs`` overrides the corpus count exactly like the
    reference's CLI arg.

    The (word, doc) count feeds both the tf and the df branch, and the df
    branch reads the count's exchange again (see :func:`doc_frequency`):
    the text is tokenized once and nothing is persisted.

    ``persist_intermediate`` is accepted and ignored. It exists only
    because the benchmark's four index-build call sites
    (``perfbench/workloads.py``) still pass it.
    """
    from hadoop_tfidf_spark.corpus import REFERENCE_TOKEN_PATTERN, tokenize

    if tokens is None:
        tokens = tokenize(docs, tokenizer_pattern or REFERENCE_TOKEN_PATTERN)

    dwc = doc_word_count(tokens)
    tf = term_frequency(dwc)
    df = doc_frequency(dwc)

    if num_docs is not None:
        n_col = F.lit(int(num_docs))
        joined = tf.join(df, "word")
    else:
        # Cross join against the 1-row count: Catalyst broadcasts it
        # (BroadcastNestedLoopJoin over a single row — free).
        joined = tf.join(df, "word").crossJoin(F.broadcast(_num_docs_df(docs)))
        n_col = F.col("num_docs")

    return joined.select(
        "word",
        "doc_id",
        "tf",
        "df",
        (F.col("tf") * _idf(n_col, exact_idf)).alias("tfidf"),
    )
