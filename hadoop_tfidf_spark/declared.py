"""Declared queries (SURVEY.md §2.1 DQ0–DQ7) — the driver correctness
contract.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with the
equivalent ANSI SQL that DuckDB runs over the same parquet tables. Both
sides follow the determinism rules from SURVEY.md §2.1 / FIXTURES.md:

* tokenizer = split on a single ASCII space (driver ``documents.text`` is
  single-space-joined tokens; identical in both engines — Spark's
  ``\\s*\\b\\s*`` reference tokenizer is available in the engine but is not
  RE2-reproducible, see SURVEY.md §1.3);
* every float is ``ROUND(x, 6)`` (absorbs libm log10 last-ulp differences);
* the integer-division IDF is written ``FLOOR(num_docs / df)``
  (TFIDF.java:163 Java int/int);
* search scores sum *rounded* tfidf then round again (fixed contract so
  float summation order can't flip a hash);
* ranked outputs carry an explicit ``rnk`` with total tie-breaks.

Search queries are literal VALUES in both engines (the driver testdata has
no queries table): one duplicated-term query (pins the reference's
double-count semantics, Search.java:230), one multi-term, one single-term,
one containing an out-of-vocabulary term.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, load_docs, tokenize
from hadoop_tfidf_spark.search import query_term_bag, rank, search
from hadoop_tfidf_spark.tfidf import doc_frequency, doc_word_count, term_frequency, tfidf

#: (query_id, query_text) literals used by DQ5/DQ6 in both engines.
SEARCH_QUERIES: list[tuple[str, str]] = [
    ("q_dup", "spark data data"),          # duplicated term → double-count
    ("q_multi", "table join merge fast"),  # multi-term
    ("q_single", "value"),                 # single term
    ("q_oov", "zzzmissing scan"),          # out-of-vocabulary term
]

_QUERY_VALUES_SQL = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in SEARCH_QUERIES)

#: Shared oracle CTE prefix (DuckDB; `documents` is a pre-registered view).
_ORACLE_CTES = f"""
WITH tokens AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
),
dwc AS (
  SELECT word, doc_id, count(*) AS n FROM tokens GROUP BY word, doc_id
),
dfreq AS (
  SELECT word, count(*) AS df FROM dwc GROUP BY word
),
ndocs AS (
  SELECT count(*) AS num_docs FROM documents
),
tfidf_rel AS (
  SELECT d.word, d.doc_id,
         round(1.0 + log10(d.n), 6) AS tf,
         f.df,
         round((1.0 + log10(d.n)) * log10(1.0 + floor(num_docs / f.df)), 6) AS tfidf
  FROM dwc d JOIN dfreq f USING (word) CROSS JOIN ndocs
),
query_terms AS (
  SELECT query_id, word FROM (
    SELECT query_id, unnest(string_split(query_text, ' ')) AS word
    FROM (VALUES {_QUERY_VALUES_SQL}) AS q(query_id, query_text)
  ) WHERE word <> ''
),
search_rel AS (
  SELECT q.query_id, t.doc_id, round(sum(t.tfidf), 6) AS score
  FROM tfidf_rel t JOIN query_terms q USING (word)
  GROUP BY q.query_id, t.doc_id
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_docs(spark, f"{sf_dir}/documents.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenize(_docs(spark, sf_dir), SPACE_TOKEN_PATTERN)


def _tfidf_rounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, doc_id, tf, df, tfidf) with floats rounded per the contract."""
    out = tfidf(_docs(spark, sf_dir), tokens=_tokens(spark, sf_dir))
    return out.select(
        "word",
        "doc_id",
        F.round("tf", 6).alias("tf"),
        "df",
        F.round("tfidf", 6).alias("tfidf"),
    )


def q_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ0 — tokenize+flatten (reference O2/O3)."""
    return _tokens(spark, sf_dir)


#: Precondition under which the reference tokenizer ``\s*\b\s*``
#: (DocWordCount.java:49, Java regex) provably equals a single-space split:
#: the text is word-char tokens (``[A-Za-z0-9_]+``) joined by single spaces.
#: On such text every ``\b`` sits at a space edge, zero-width edge matches
#: produce only empty tokens (dropped by the O3 filter), and interior runs
#: have no boundaries — so both tokenizers emit the same (doc_id, word)
#: multiset. SURVEY.md §1.3 has the general-case divergence analysis.
#: Anchored ``\A``/``\z`` (supported by BOTH Java regex and RE2) rather
#: than ``^``/``$``: Java's ``$`` matches *before* a final line terminator
#: while RE2's matches only at true end-of-input, so a word-char doc with a
#: trailing newline would pass the Spark guard but fail the oracle filter —
#: breaking both the hash row and the theorem (a trailing ``\n`` is itself
#: a ``\s`` the reference tokenizer strips but a space-split keeps).
_WORDCHAR_TEXT = r"\A[A-Za-z0-9_]+( [A-Za-z0-9_]+)*\z"


def q_tokens_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ0b — tokenize+flatten with the *reference* regex ``\\s*\\b\\s*``
    (reference O2, DocWordCount.java:49; same JVM regex engine, so
    bit-identical to the reference tokenizer).

    The oracle can't run Java regex, so the query is fixture-constrained by
    construction: both sides keep only documents matching
    :data:`_WORDCHAR_TEXT`, on which reference-split = space-split is a
    theorem, not a data accident. On the driver corpus the filter keeps
    every row, so this puts the reference tokenizer itself under the hash
    gate over the full corpus.
    """
    docs = _docs(spark, sf_dir).where(F.col("text").rlike(_WORDCHAR_TEXT))
    return tokenize(docs)  # default pattern = REFERENCE_TOKEN_PATTERN


def q_doc_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1 — per-(word, doc) count (reference O5, DocWordCount.java:68–79)."""
    return doc_word_count(_tokens(spark, sf_dir))


def q_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ2 — log-scaled TF (reference O6, TermFrequency.java:81)."""
    tf = term_frequency(doc_word_count(_tokens(spark, sf_dir)))
    return tf.select("word", "doc_id", F.round("tf", 6).alias("tf"))


def q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3 — document frequency (reference O8, TFIDF.java:147–158)."""
    return doc_frequency(doc_word_count(_tokens(spark, sf_dir)))


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4 — TF-IDF with integer-division IDF (reference O9/O10, TFIDF.java:163)."""
    return _tfidf_rounded(spark, sf_dir).select("word", "doc_id", "tfidf")


def q_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5 — query scoring, bag semantics (reference O13/O14, Search.java:210–252)."""
    bag = query_term_bag(spark, SEARCH_QUERIES)
    scored = search(_tfidf_rounded(spark, sf_dir), bag)
    return scored.select("query_id", "doc_id", F.round("score", 6).alias("score"))


def q_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6 — per-query descending rank (reference Rank job4, Rank.java:120–139)."""
    ranked = rank(q_search(spark, sf_dir))
    return ranked.select("query_id", "doc_id", "score", F.col("rnk").cast("bigint").alias("rnk"))


def q_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ7 — global top-100 (word, doc) scores (reference TFIDFRank.java:76–94).

    ``orderBy().limit(100)`` plans TakeOrderedAndProject — top-k without a
    total sort; the row_number window then runs over only 100 rows, so the
    single-partition window is scale-safe (WindowExec's "No Partition
    Defined" WARN is intentional here and cannot be silenced in the plan:
    Catalyst constant-folds any literal partition key back to an empty
    partitionSpec — session.get_spark demotes that one log category
    instead, see session.py).
    """
    top = (
        _tfidf_rounded(spark, sf_dir)
        .select("word", "doc_id", "tfidf")
        .orderBy(F.desc("tfidf"), F.asc("word"), F.asc("doc_id"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("tfidf"), F.asc("word"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


CORE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tokens": q_tokens,
    "tokens_reference_pattern": q_tokens_reference,
    "doc_word_count": q_doc_word_count,
    "term_frequency": q_term_frequency,
    "doc_frequency": q_doc_frequency,
    "tfidf": q_tfidf,
    "search": q_search,
    "rank": q_rank,
    "tfidf_rank": q_tfidf_rank,
}

CORE_ORACLE_SQL: dict[str, str] = {
    "tokens": _ORACLE_CTES + "SELECT doc_id, word FROM tokens",
    "tokens_reference_pattern": r"""
SELECT doc_id, word FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  WHERE regexp_matches(text, '\A[A-Za-z0-9_]+( [A-Za-z0-9_]+)*\z')
) WHERE word <> ''
""",
    "doc_word_count": _ORACLE_CTES + "SELECT word, doc_id, n FROM dwc",
    "term_frequency": _ORACLE_CTES
    + "SELECT word, doc_id, round(1.0 + log10(n), 6) AS tf FROM dwc",
    "doc_frequency": _ORACLE_CTES + "SELECT word, df FROM dfreq",
    "tfidf": _ORACLE_CTES + "SELECT word, doc_id, tfidf FROM tfidf_rel",
    "search": _ORACLE_CTES + "SELECT query_id, doc_id, score FROM search_rel",
    "rank": _ORACLE_CTES
    + """
SELECT query_id, doc_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
FROM search_rel
""",
    "tfidf_rank": _ORACLE_CTES
    + """
SELECT word, doc_id, tfidf,
       row_number() OVER (ORDER BY tfidf DESC, word, doc_id) AS rnk
FROM tfidf_rel
ORDER BY rnk
LIMIT 100
""",
}
