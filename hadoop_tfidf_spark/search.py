"""Query scoring and ranking (reference operators O13–O16, O20–O21).

Reference semantics being reproduced:

* O13 query-term filter — Search job3 scans every tf-idf record and, for
  each *occurrence* of the record's word in the query, emits the score once
  (Search.java:210–236). The dedupe ``break`` is commented out
  (Search.java:230), so a repeated query term double-counts. That is
  exactly an inner join against the query term **bag** (duplicates kept):
  join multiplicity = term multiplicity. ``dedupe_query=True`` gives the
  set semantics (left-semi join) instead.
* O14 per-doc score sum — ``groupBy(doc_id).sum(score)``
  (Search.java:238–252).
* O15/O16 global descending rank — the reference sorts with a raw-byte
  comparator hack through a single reducer (Rank.java:120–139,
  TFIDFRank.java:76–94) and inverts (k,v) twice to make the framework sort
  by score. Spark's ``orderBy`` is a sampled range-partitioned parallel
  sort; ranks come from a window ``row_number`` with explicit tie-breaks
  (the reference's ordering of equal scores is nondeterministic).
* O21 (Search.java:104 comparator/grouping defect on Text keys) is a
  documented reference bug and is **not** replicated — docs group by exact
  doc_id.

Scale notes: the query bag is tiny (a handful of terms) → ``F.broadcast``
forces a broadcast hash join, so scoring never shuffles the tf-idf
relation; the only shuffle is the final per-doc aggregation. A query list
becomes the bag as a literal inside the plan (``Generate inline`` over
``OneRowRelation``), not a relation parallelized from the Python list:
that is a pickled RDD, which starts Python workers on every query. The
literal is ``functions.literals._local_relation``, the package's one
route for driver-side rows, so scoring imports no ANN code.
Ranking per query partitions the window by ``query_id`` — top-k should
use ``.limit(k)`` after ``orderBy`` so Spark plans TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.literals import _local_relation
from hadoop_tfidf_spark.tfidf import doc_frequency


def query_term_bag(
    spark: SparkSession,
    queries: DataFrame | list[tuple[str, str]],
    pattern: str = " ",
) -> DataFrame:
    """Explode ``(query_id, query_text)`` into the term **bag**
    ``(query_id, word)`` — duplicates preserved (Search.java:225–231 with
    the ``//break;`` commented out at :230). A list of queries goes into
    the plan as a literal relation."""
    if not isinstance(queries, DataFrame):
        queries = _local_relation(
            spark, queries, "query_id STRING, query_text STRING"
        )
    return queries.select(
        "query_id",
        F.explode(F.split(F.col("query_text"), pattern)).alias("word"),
    ).where(F.col("word") != "")


def search(
    tfidf_df: DataFrame,
    query_terms: DataFrame,
    dedupe_query: bool = False,
) -> DataFrame:
    """Score documents against queries (reference O13+O14).

    Broadcast inner join on ``word`` (bag semantics — duplicate query terms
    double-count, matching Search.java:230), then sum per (query, doc).
    Returns ``(query_id, doc_id, score DOUBLE)``.

    The join output is hash-partitioned by ``query_id`` before the sum,
    so the plan's one exchange, ``hashpartitioning(query_id)``, serves
    both the ``(query_id, doc_id)`` aggregate and :func:`rank`'s
    per-query window: ``search`` → ``rank`` shuffles once, where a
    ``(query_id, doc_id)`` exchange under the sum needed a second one
    under the window. The sum then runs after the exchange, so an
    unrounded score may differ from a map-side partial sum in the last
    ulp; callers compare scores rounded to 6 places.
    """
    if dedupe_query:
        query_terms = query_terms.dropDuplicates(["query_id", "word"])
    scored = tfidf_df.join(F.broadcast(query_terms), "word", "inner").repartition(
        "query_id"
    )
    return scored.groupBy("query_id", "doc_id").agg(F.sum("tfidf").alias("score"))


def bm25(
    dwc: DataFrame,
    query_terms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scoring — the modern form of the reference's TF-IDF
    ranking (O6/O9/O13 generalized with term-frequency saturation and
    document-length normalization; Robertson & Spärck Jones's probabilistic
    weighting, the default in Lucene/Elasticsearch).

        idf(t)    = ln((N - df + 0.5) / (df + 0.5) + 1)
        tf_c(t,d) = n·(k1+1) / (n + k1·(1 - b + b·dl/avgdl))
        score     = Σ_{t ∈ distinct query terms} idf(t)·tf_c(t,d)

    Standard BM25 sums DISTINCT query terms (unlike the reference's bag
    double-count, which :func:`search` pins separately), so the query side
    is deduplicated here.

    Plan shape: every branch reads the ``(word, doc_id, n)`` relation —
    doc lengths are one more aggregation over it (NOT a corpus re-scan),
    avgdl and N are 1-row aggregates cross-joined in-plan (the O19
    scalar-broadcast pattern), df is ``doc_frequency`` joined as a
    broadcast-sized word relation, and query terms broadcast.

    Returns ``(query_id, doc_id, score DOUBLE)`` (unrounded; callers
    round per the determinism contract).

    ``dwc`` is read four times (the scored join, df, the doc lengths and
    the avgdl/N stats over them), and the text is counted once: all four
    read one ``(word, doc_id)`` exchange. That needs every branch to read
    the count unfiltered. A NULL ``doc_id`` counts toward df, N and avgdl
    (as in the DuckDB oracle, whose ``GROUP BY`` keeps it) but is never
    scored. An inner join on ``doc_id`` would drop it by inferring an
    ``isnotnull(doc_id)`` filter, and that filter lands beneath the count
    on the scored and doc-length branches, which then count the text a
    second time. So ``dl`` joins null-safe, and a NULL document's score
    is nulled and dropped after the sum, where no filter can sink.
    """
    qt = query_terms.dropDuplicates(["query_id", "word"])
    dl = dwc.groupBy("doc_id").agg(F.sum("n").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n_docs")
    )
    hits = dwc.join(F.broadcast(qt), "word").join(doc_frequency(dwc), "word")
    scored = hits.join(
        dl.withColumnRenamed("doc_id", "_dl_doc"),
        hits["doc_id"].eqNullSafe(F.col("_dl_doc")),
    ).crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_c = (F.col("n") * F.lit(k1 + 1.0)) / (
        F.col("n")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    # per-term contributions are rounded BEFORE the sum (same determinism
    # contract as `search`: fixed 6-decimal inputs keep float summation
    # order from ever flipping an oracle hash)
    s = F.when(F.col("doc_id").isNotNull(), F.round(idf * tf_c, 6))
    return (
        scored.select("query_id", "doc_id", s.alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
        .where(F.col("score").isNotNull())
    )


def rank(search_df: DataFrame) -> DataFrame:
    """Per-query descending rank (reference Rank job4, Rank.java:120–139).

    Spark replaces the single-reducer byte-comparator sort with a window
    ``row_number``; ties broken by doc_id for determinism (the reference's
    tie order is an accident of its shuffle). Returns
    ``(query_id, doc_id, score, rnk)``.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return search_df.withColumn("rnk", F.row_number().over(w))


def doc_similarity(
    tfidf_df: DataFrame, k: int = 100, df_cap: int | None = None
) -> DataFrame:
    """All-pairs document cosine similarity in TF-IDF space, top-``k``
    pairs — the doc-to-doc extension of the reference's query-to-doc
    scoring (same vector space as Search.java's scoring, applied
    reflexively).

    Plan: self-equi-join on ``word`` (pairs exist only where vocabulary
    overlaps — never a cross join), dot products via one aggregation on
    the (doc_a, doc_b) pair, norms joined back, TakeOrderedAndProject for
    the top-k. The word join is the skew point at scale: a stopword-grade
    term with df≈N contributes O(N²) pairs — ``df_cap`` prunes terms with
    df above the cap before the join (standard practice; such terms carry
    near-zero idf weight anyway, so the cosine loss is bounded).
    """
    t = tfidf_df.select("word", "doc_id", "tfidf", "df")
    if df_cap is not None:
        t = t.where(F.col("df") <= df_cap)
    norms = t.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("nrm")
    )
    a, b = t.alias("a"), t.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tfidf") * F.col("b.tfidf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(k)
    )


def tfidf_rank(tfidf_df: DataFrame, limit: int | None = None) -> DataFrame:
    """Global descending rank of all (word, doc) scores (reference
    TFIDFRank.java:76–94).

    ``orderBy`` → sampled range-partitioned parallel sort (no single-reducer
    bottleneck); with ``limit`` Spark plans TakeOrderedAndProject (top-k
    without a total sort). Ties broken (word, doc_id).
    """
    out = tfidf_df.orderBy(F.desc("tfidf"), F.asc("word"), F.asc("doc_id"))
    return out.limit(limit) if limit is not None else out
