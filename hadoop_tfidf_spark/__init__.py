"""hadoop_tfidf_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference ``liuhoward/hadoop-tfidf``
(Hadoop MapReduce TF-IDF pipelines), rebuilt Spark-first.

The reference's operator surface (SURVEY.md §2, O1–O21) is re-expressed as
lazy, composable DataFrame transformations: Catalyst handles the partial
aggregation, shuffle planning, predicate pushdown, and distributed sorts
that the reference hand-rolled as 2–4 chained MapReduce jobs with HDFS
text materialization between them.

Beyond reference parity the engine adds the operators a large-scale
training-data pipeline needs: deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine), similarity search (brute-force and
LSH-bucketed ANN), text analysis (language-ID, quality scoring, token
counting, fingerprinting), multimodal binary-column plumbing, and
Structured-Streaming incremental term stats.
"""

from hadoop_tfidf_spark.corpus import (
    REFERENCE_TOKEN_PATTERN,
    load_csv,
    load_docs,
    load_jsonl,
    load_text_dir,
    tokenize,
)
from hadoop_tfidf_spark.tfidf import (
    doc_frequency,
    doc_word_count,
    term_frequency,
    tfidf,
)
from hadoop_tfidf_spark.search import query_term_bag, rank, search, tfidf_rank

__all__ = [
    "REFERENCE_TOKEN_PATTERN",
    "load_csv",
    "load_docs",
    "load_jsonl",
    "load_text_dir",
    "tokenize",
    "doc_word_count",
    "term_frequency",
    "doc_frequency",
    "tfidf",
    "query_term_bag",
    "search",
    "rank",
    "tfidf_rank",
]

__version__ = "0.1.0"
