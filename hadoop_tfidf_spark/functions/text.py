"""Text-analysis operators for LLM-data-pipeline curation (engine surface
beyond the reference, per the north star): token statistics, quality
scoring, heuristic language ID, winnowing document fingerprints, and
benchmark decontamination — exact (:func:`contamination_check`) or
through one :class:`BloomFilter` artifact, built once per benchmark
release (:func:`bloom_bitmap`, :func:`bloom_store_sharded`) and probed
as a plan literal when in memory or by a numpy kernel when stored.

All are pure DataFrame transformations over a ``(doc_id, text)`` corpus —
JVM-side expressions only (no Python UDFs), so they run inside whole-stage
codegen and scale linearly with executors; the only shuffles are the final
per-document aggregations, keyed on ``doc_id`` (high-cardinality, evenly
distributed — no skew concern at 100 TB).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators.dedup import (
    M31,
    MINHASH_A,
    MINHASH_B,
    _kgrams,
    _md5_base,
    _nonempty_words,
    _words,
    shingles,
)
from hadoop_tfidf_spark.functions.literals import _lit_array

#: Tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Real deployments swap in a trained model (fastText et al.) via
#: the same operator shape; the heuristic keeps the engine dependency-free.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "la", "de", "y", "es", "que"],
    "fr": ["le", "la", "de", "et", "est", "que"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai"],
}

#: English stopwords used by the quality-score stopword ratio.
QUALITY_STOPWORDS: list[str] = [
    "the", "a", "an", "of", "and", "or", "is", "to", "in", "it",
]


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics: whitespace token count, alphabetic
    "wordlike" count (BPE-ish ``[a-zA-Z]+`` pre-tokenizer segments), digit
    run count, char length, mean token length.

    Narrow projection — no shuffle at all.
    """
    text = F.col("text")
    words = _words(text)
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.regexp_count(text, F.lit("[a-zA-Z]+")).cast("bigint").alias("n_wordlike"),
        F.regexp_count(text, F.lit("[0-9]+")).cast("bigint").alias("n_digit_runs"),
        F.length(text).cast("bigint").alias("n_chars"),
        F.round(F.length(text) / F.size(words), 6).alias("mean_token_len"),
    )


def _alpha_chars(text: Column) -> Column:
    return F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))


def _quality_terms(
    words: Column, alpha_chars: Column, n_chars: Column
) -> tuple[Column, ...]:
    """``(n_tokens, n_stop, stop_ratio, alpha_ratio, quality)`` over a
    word array and the text's letter and character counts — the one
    quality formula (see :func:`quality_score`). ``words`` may be a
    staged column (``pipeline.curate_corpus`` splits each text once)."""
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*QUALITY_STOPWORDS)))
    stop_ratio = n_stop / n_tokens
    alpha_ratio = alpha_chars / n_chars
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio / F.lit(0.1), F.lit(1.0))
    )
    return n_tokens, n_stop, stop_ratio, alpha_ratio, F.round(score, 6)


def quality_column(text: Column) -> Column:
    """The rounded quality score as a COLUMN expression — composable into
    any projection, no join."""
    return _quality_terms(_words(text), _alpha_chars(text), F.length(text))[-1]


def repetition_score(docs: DataFrame, k: int = 3) -> DataFrame:
    """Gopher-style repetition filter statistics: the fraction of a
    document made of REPEATED content — duplicate-word ratio
    (``1 − distinct/total`` over whitespace tokens) and duplicate
    ``k``-gram ratio over word shingles. Boilerplate, keyword-stuffed and
    loop-generated pages score high and get dropped by a pretraining
    pipeline (Rae et al. 2021, "Scaling Language Models" §A1.1 repetition
    rules).

    ZERO shuffle: a doc's words and shingles live in its own row, so both
    ratios are higher-order array expressions fused into the scan stage —
    the same scale shape as :func:`fingerprint`, with the word and gram
    arrays staged through projections so the per-shingle lambda doesn't
    re-split the doc per element (the O(words²) trap — see
    :func:`~hadoop_tfidf_spark.operators.dedup.shingles`). Docs with
    fewer than ``k`` words get a NULL gram ratio (no shingles exist),
    matching the oracle's LEFT-JOIN null.
    """
    staged = docs.select("doc_id", _words(F.col("text")).alias("_w"))
    toks = F.filter(F.col("_w"), lambda x: x != "")
    grams = _kgrams(F.col("_w"), k)
    staged2 = staged.select(
        "doc_id",
        toks.alias("_t"),
        F.size("_w").alias("_nw"),
        F.when(F.size("_w") >= k, grams).alias("_g"),
    )
    n_words = F.size("_t").cast("bigint")
    n_grams = F.when(F.col("_nw") >= k, F.size("_g")).otherwise(F.lit(0))
    return staged2.select(
        "doc_id",
        n_words.alias("n_words"),
        F.size(F.array_distinct("_t")).cast("bigint").alias("n_distinct_words"),
        F.when(
            n_words > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("_t")) / n_words, 6
            ),
        ).alias("word_dup_ratio"),
        n_grams.cast("bigint").alias("n_grams"),
        F.when(
            F.col("_nw") >= k,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("_g")) / F.size("_g"), 6
            ),
        ).alias("gram_dup_ratio"),
    )


def quality_score(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Heuristic document quality score in [0, 1] from length, alphabetic
    ratio, and stopword ratio — the standard pre-training corpus filters
    (Gopher/C4-style rules) expressed as one vectorized projection.

    score = 0.4·min(n_tokens/50, 1) + 0.3·alpha_ratio + 0.3·min(stop_ratio/0.1, 1)

    ``keep_cols`` passes input columns (e.g. ``source``) through the
    projection, so downstream per-group consumers compose without a
    corpus-to-corpus join back on ``doc_id`` — one scan, zero joins.
    Each text is split once: the word array is staged beneath the
    projection that reads it."""
    text = F.col("text")
    staged = docs.select(
        "doc_id",
        *keep_cols,
        _words(text).alias("_w"),
        _alpha_chars(text).alias("_a"),
        F.length(text).alias("_n"),
    )
    n_tokens, n_stop, stop_ratio, alpha_ratio, quality = _quality_terms(
        F.col("_w"), F.col("_a"), F.col("_n")
    )
    return staged.select(
        "doc_id",
        *keep_cols,
        n_tokens.cast("bigint").alias("n_tokens"),
        n_stop.cast("bigint").alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        quality.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: count marker-lexicon hits per language, pick
    the argmax (ties broken by language code; zero hits → ``und``).

    Plan shape: ZERO-shuffle pure projection. The marker lexicons are
    compile-time constants (~6 words/language), so the per-language hit
    count is ``size(filter(words, isin(markers)))`` — a higher-order array
    expression evaluated inside the scan stage — and the argmax is the
    ``greatest``-of-structs trick, also a projection. No explode, no
    marker-table join, no aggregation: the per-document token loop the
    earlier formulation paid an explode + broadcast-join + hash-agg
    shuffle for is fused into codegen row-local work (measured ~2.7×
    faster at sf0.1, and it composes into pipelines without forcing a
    doc_id exchange). Counts include multiplicity, exactly like the
    join-and-count formulation it replaces (the DuckDB oracle keeps the
    relational join+group form; the hash gate pins the equivalence).
    The word array is staged once and read by all five hit counts.
    """
    staged = docs.select("doc_id", _words(F.col("text")).alias("_w"))
    pred, hits = _lang_argmax(F.col("_w"))
    return staged.select(
        "doc_id", pred.alias("pred_lang"), hits.alias("marker_hits")
    )


def lang_id_columns(text: Column) -> tuple[Column, Column]:
    """``(pred_lang, marker_hits)`` as COLUMN expressions over ``text`` —
    the composable form of :func:`lang_id` (inline annotation, no join)."""
    return _lang_argmax(_words(text))


def _lang_argmax(words: Column) -> tuple[Column, Column]:
    """``(pred_lang, marker_hits)`` over a word array — the one lang-id
    formula; ``words`` may be a staged column (see :func:`_quality_terms`)."""
    langs = sorted(LANG_MARKERS)

    def _hit_count(markers: list[str]):
        # factory, not a default-arg lambda: HOF lambdas must take exactly
        # the positional lambda variables (an extra arg = the index form)
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    hits = [_hit_count(LANG_MARKERS[lang]) for lang in langs]
    # argmax(hits) with ties to the alphabetically first language:
    # greatest() picks the max (hits, inverse-index) struct, so on equal
    # hits the SMALLER language index (larger inverse) wins.
    best = F.greatest(
        *[
            F.struct(
                hits[i].alias("hits"),
                F.lit(len(langs) - 1 - i).alias("inv"),
            )
            for i in range(len(langs))
        ]
    )
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    pred = (
        F.when(
            best["hits"] > 0,
            F.element_at(lang_arr, F.lit(len(langs)) - best["inv"]),
        )
        .otherwise(F.lit("und"))
    )
    return pred, best["hits"].cast("bigint")


def lm_score(docs: DataFrame, k_smooth: float = 0.5) -> DataFrame:
    """Statistical LM quality score: the mean log10 probability of each
    document's bigrams under the CORPUS bigram model with add-k smoothing
    — the KenLM-style perplexity filter of pretraining pipelines (low
    scores flag gibberish/boilerplate relative to the corpus
    distribution), self-trained on the corpus it scores.

        p(w2|w1) = (n(w1 w2) + k) / (n(w1 ·) + k·V),   V = |vocab|
        score(d) = round((Σ lp_u / m) / 1e6, 6),
        lp_u     = round(log10(p) · 1e6) as BIGINT    over d's m bigrams

    Per-bigram logs are quantized to INTEGER micro-log units before the
    aggregation: a BIGINT sum is associative, so no summation order (Spark
    partial aggs vs an oracle's sequential fold) can perturb it — rounding
    a double mean directly was measured to flip the 6th decimal on ~0.4%
    of docs whose mean sits on a rounding boundary. The final division is
    one identical IEEE op on identical integers in both engines.

    Plan shape: bigrams come from the zero-shuffle shingle expression;
    corpus statistics are two aggregations over it (bigram counts,
    leading-word counts) plus a 1-row vocab-size aggregate broadcast
    in-plan (the O19 scalar pattern); each doc-bigram occurrence joins its
    corpus counts on the bigram/leading-word keys (Zipfian keys →
    map-side partial aggregation carries the skew), then one final
    aggregation per doc. Returns ``(doc_id, n_bigrams BIGINT, lm_score)``
    — docs with < 2 words carry NULL lm_score and 0 bigrams.
    """
    bigrams = shingles(docs, k=2).select(
        "doc_id", F.col("shingle").alias("bg")
    )
    bg_n = bigrams.groupBy("bg").agg(F.count("*").alias("n_bg"))
    lead_n = (
        bigrams.select(_words(F.col("bg")).getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n_w1"))
    )
    vocab = (
        docs.select(F.explode(_words(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    p = (F.col("n_bg") + F.lit(k_smooth)) / (
        F.col("n_w1") + F.lit(k_smooth) * F.col("v")
    )
    scored = (
        bigrams.join(bg_n, "bg")
        .join(lead_n, _words(F.col("bg")).getItem(0) == F.col("w1"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(F.log10(p) * F.lit(1_000_000)).cast("bigint").alias("lp_u"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                (F.sum("lp_u") / F.count("*")) / F.lit(1_000_000.0), 6
            ).alias("lm_score"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            "lm_score",
        )
    )


def lm_score_histogram(
    docs: DataFrame, bucket_width: float = 0.5, k_smooth: float = 0.5
) -> DataFrame:
    """Corpus quality-distribution telemetry: fixed-width histogram of
    :func:`lm_score` — per bucket the doc count, bigram volume, and doc
    share. This is how a curation run picks its perplexity threshold
    (plot the distribution, cut the gibberish tail) and how drift between
    crawls is monitored; every recipe paper publishes exactly this chart.

    Buckets are ``floor(lm_score / bucket_width)`` — a pure projection,
    so the histogram is one low-cardinality aggregation over the scored
    corpus, NOT a global ntile (a quantile sketch or single-partition
    rank window would serialize the corpus; fixed thresholds keep it
    embarrassingly parallel, and the bucket share still answers the
    threshold question). Docs with no bigrams (< 2 words, NULL score)
    are excluded. The division by ``bucket_width`` (default 0.5 = a
    power of two) is exact IEEE on the 6-decimal-rounded score, so
    bucket ids are engine-identical.

    The total for ``doc_share`` comes from an unpartitioned WINDOW over
    the bucket aggregation's output — histogram-sized, so the one-task
    window is benign (the declared.py post-LIMIT precedent) — NOT from
    a separate totals-aggregate branch: the aggregation is a plan
    diamond, and Spark recomputes diamonds, so the crossJoin(totals)
    form executed the ENTIRE upstream lm_score pipeline twice (measured:
    9 shuffles vs 5 in the executed census). One corpus pass total.
    """
    scored = lm_score(docs, k_smooth=k_smooth).where(
        F.col("lm_score").isNotNull()
    )
    g = scored.groupBy(
        F.floor(F.col("lm_score") / bucket_width).cast("bigint").alias("bucket")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
    )
    w = Window.partitionBy(F.lit(1))
    return g.select(
        "bucket",
        "n_docs",
        "n_bigrams",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("bigint"), 6
        ).alias("doc_share"),
    )


def ngram_freq(docs: DataFrame, n: int = 2, top: int = 100) -> DataFrame:
    """Corpus-wide n-gram frequency table, top ``top`` by count — the
    n-gram LM statistics pass of a training-data pipeline (also the input
    to contamination checks and boilerplate detection).

    Plan: narrow shingle explode → one aggregation on the n-gram (partial
    map-side combine collapses the heavy hitters before the shuffle) →
    TakeOrderedAndProject for the top-k (no global sort materialization).
    N-gram keys are near-Zipfian — exactly the skew case partial
    aggregation exists for; the shuffle moves one row per distinct n-gram
    per partition, not one per occurrence.
    """
    grams = shingles(docs, k=n).select(F.col("shingle").alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(top)
    )


def chunk_tokens(
    docs: DataFrame, chunk_size: int = 32, stride: int | None = None
) -> DataFrame:
    """Fixed-size token chunking: split each document into ``chunk_size``-
    token windows every ``stride`` tokens (default non-overlapping) — the
    context-window preparation pass for embedding / training pipelines.

    Returns ``(doc_id, chunk_id, n_tokens, chunk_text)``; the final chunk
    may be short, empty docs produce no chunks.

    Pure narrow expression pipeline (sequence → transform → posexplode):
    no shuffle, no Python — chunking 100 TB is scan-bound. A Python UDTF
    could express the same thing; the built-in path stays in whole-stage
    codegen (see SURVEY.md §4 on keeping the hot path JVM-side). The word
    array is staged so the per-chunk lambda doesn't re-split the doc per
    element (the O(words²) trap — see operators.dedup.shingles).
    """
    if stride is None:
        stride = chunk_size
    words = _nonempty_words(F.col("text"))
    staged = docs.where(F.size(words) > 0).select("doc_id", words.alias("_w"))
    # start offsets 1, 1+stride, … ≤ n — every window is non-empty
    starts = F.sequence(F.lit(1), F.size("_w"), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(F.col("_w"), s, chunk_size))
    return (
        staged.select("doc_id", F.posexplode(chunks).alias("chunk_id0", "chunk"))
        .select(
            "doc_id",
            (F.col("chunk_id0") + 1).cast("bigint").alias("chunk_id"),
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


#: PII patterns — deliberately RE2-compatible (no lookarounds, no Java-only
#: syntax) so the DuckDB oracle runs the very same strings.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}[-.]\d{3,4}[-.]\d{4}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrub: replace email addresses and phone-shaped numbers with
    placeholder tags, reporting per-doc match counts — the privacy pass of
    a training-data pipeline.

    Returns ``(doc_id, n_emails, n_phones, clean_md5)`` where ``clean_md5``
    fingerprints the redacted text (hash-stable across engines). Narrow
    projection — regexp_replace/count are codegen'd JVM expressions, no
    shuffle at all.
    """
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(cleaned).alias("clean_md5"),
    )


def contamination_check(
    docs: DataFrame, bench_docs: DataFrame, k: int = 3
) -> DataFrame:
    """Benchmark-contamination scan: for every candidate training document,
    the fraction of its distinct word ``k``-gram shingles that also appear
    anywhere in a benchmark/eval corpus — the decontamination pass every
    LLM training pipeline runs before training.

    Returns ``(doc_id, n_shingles, n_hits, overlap_ratio)`` for docs with
    at least ``k`` words (shorter docs have no shingles to match).

    Plan: distinct shingles per side; a left-semi join marks hits (only
    the shingle key crosses the shuffle, no payload); two aggregations at
    doc grain. At scale the benchmark shingle set is typically small
    enough to broadcast — AQE does that automatically; otherwise the semi
    join shuffles on the shingle hash, which is uniformly distributed.
    """
    cand = shingles(docs, k=k).select("doc_id", "shingle").distinct()
    bench = shingles(bench_docs, k=k).select("shingle").distinct()
    totals = cand.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    hits = (
        cand.join(bench, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_shingles"), 6
            ).alias("overlap_ratio"),
        )
    )


def cooccurrence(
    docs: DataFrame, top: int = 100, max_doc_vocab: int | None = None
) -> DataFrame:
    """Corpus-wide token co-occurrence: top ``top`` unordered pairs of
    distinct tokens appearing in the same document (the PMI / word-vector
    statistics pass of a text pipeline).

    Plan: per-doc distinct-token explode → self-equi-join on doc_id with
    ``w1 < w2`` (each unordered pair once) → count → TakeOrderedAndProject.
    The join shuffles both sides on doc_id — well-distributed by
    construction (one group per document), BUT pairs are quadratic in the
    per-doc DISTINCT vocabulary, and a doc_id's join group is ONE key that
    AQE skew-split cannot divide: a single 50k-distinct-token web page
    yields ~1.25B pairs on one task. ``max_doc_vocab`` is the guard for
    that tail (the same role as ``doc_similarity``'s ``df_cap`` and LSH's
    ``max_bucket_size``): each doc keeps only its first ``max_doc_vocab``
    distinct tokens in document order — a deterministic, engine-independent
    truncation (``slice`` on the array BEFORE the explode, so the cap is a
    narrow scan-stage expression and capped docs never fan out). With the
    cap, per-task work is bounded by ``max_doc_vocab²/2`` pairs regardless
    of document length. Default ``None`` (uncapped) preserves exact
    semantics for bounded-vocabulary corpora.
    """
    vocab = F.array_distinct(_nonempty_words(F.col("text")))
    if max_doc_vocab is not None:
        vocab = F.slice(vocab, 1, int(max_doc_vocab))
    toks = docs.select("doc_id", F.explode(vocab).alias("w"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.w") < F.col("b.w")),
    ).select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(top)
    )


def fingerprint(docs: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every ``k``-word shingle, slide a ``window``-wide frame over the
    shingle sequence, keep each frame's minimum hash, dedupe.

    Output: ``(doc_id, n_fingerprints, fp_min)`` — the count of distinct
    selected fingerprints and the lexicographic minimum (a compact
    per-document signature). md5-based so the DuckDB oracle reproduces it
    exactly.

    ZERO shuffle: a document's whole shingle sequence lives in its own row,
    so the sliding-window min, dedup, and reduction are higher-order array
    expressions (``transform`` + ``array_min``/``array_distinct`` over
    ``slice`` frames) fused into the scan stage — no posexplode, no
    per-doc sort, no Exchange. Frames are right-clipped at the sequence end
    (``slice`` truncates), matching the window-function formulation
    ``rowsBetween(0, window-1)``. Docs with fewer than ``k`` words produce
    no row.
    """
    words = _words(F.col("text"))
    # words staged so the per-shingle lambda doesn't re-split the doc per
    # element (the O(words²) trap — see operators.dedup.shingles)
    staged = docs.where(F.size(words) >= k).select("doc_id", words.alias("_w"))
    grams = _kgrams(F.col("_w"), k)
    hashes = F.transform(grams, F.md5)
    mins = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_h"))),
        lambda p: F.array_min(F.slice(F.col("_h"), p, window)),
    )
    return (
        staged.select("doc_id", hashes.alias("_h"))
        .select("doc_id", mins.alias("_fps"))
        .select(
            "doc_id",
            F.size(F.array_distinct(F.col("_fps"))).cast("bigint").alias("n_fingerprints"),
            F.array_min(F.col("_fps")).alias("fp_min"),
        )
    )


def c4_quality_filters(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 80,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_word_dup_ratio: float = 0.55,
    min_stop_ratio: float = 0.02,
) -> DataFrame:
    """C4/Gopher-style document-level quality filter (Raffel et al. 2020
    C4 §2.2 heuristics; Rae et al. 2021 §A1.1 quality rules), adapted to a
    whitespace-token corpus: word-count bounds, mean-word-length bounds,
    duplicate-word ceiling (boilerplate / keyword stuffing), and a
    stopword-presence floor (real prose contains function words; token
    soup does not). Emits every rule's measured value, one boolean flag
    per rule, and the conjunctive ``keep`` verdict — pipelines filter on
    ``keep`` but log the per-rule flags for curation dashboards.

    Zero-word documents get a ``keep = false`` verdict row (NULL measured
    ratios, every flag false) rather than being silently dropped — a
    caller joining verdicts back to the corpus sees every doc flagged
    (earlier rounds emitted no row at all for empty docs, which looked
    like a lost doc rather than a rejected one).

    ZERO shuffle: every rule is a row-local higher-order array expression
    over the doc's own words, fused into the scan by whole-stage codegen —
    the same scale shape as :func:`repetition_score`. The word array and
    the measured ratios are each STAGED through their own projection (the
    flag and ``keep`` expressions then reference the ratio COLUMNS, not
    re-instantiated ratio trees — without the staging, the flag +
    conjunction layer re-evaluated each guarded ratio ~3×, measured 2.4×
    slower at sf0.1). At 100 TB this runs at scan speed with no exchange
    at all.
    """
    words = _nonempty_words(F.col("text"))
    staged = docs.select("doc_id", words.alias("_w"))
    nonempty = F.size("_w") > 0
    # ratio divisions guarded: ANSI mode raises DIVIDE_BY_ZERO on the
    # zero-word row without the `when`
    measured = staged.select(
        "doc_id",
        F.size("_w").cast("bigint").alias("n_words"),
        F.when(
            nonempty,
            F.round(F.length(F.array_join("_w", "")) / F.size("_w"), 6),
        ).alias("mean_word_len"),
        F.when(
            nonempty,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("_w")) / F.size("_w"), 6
            ),
        ).alias("word_dup_ratio"),
        F.when(
            nonempty,
            F.round(
                F.size(F.filter(F.col("_w"), lambda w: w.isin(*QUALITY_STOPWORDS)))
                / F.size("_w"),
                6,
            ),
        ).alias("stop_ratio"),
    )
    pass_len = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    pass_wl = F.coalesce(
        (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        F.lit(False),
    )
    pass_dup = F.coalesce(
        F.col("word_dup_ratio") <= max_word_dup_ratio, F.lit(False)
    )
    pass_stop = F.coalesce(F.col("stop_ratio") >= min_stop_ratio, F.lit(False))
    return measured.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "word_dup_ratio",
        "stop_ratio",
        pass_len.alias("pass_len"),
        pass_wl.alias("pass_word_len"),
        pass_dup.alias("pass_dup"),
        pass_stop.alias("pass_stop"),
        (pass_len & pass_wl & pass_dup & pass_stop).alias("keep"),
    )


def self_dedup_spans(docs: DataFrame, span_words: int = 2) -> DataFrame:
    """WITHIN-document repeated-span removal — the Gopher-style self-dedup
    cleanup (Rae et al. 2021 §A1.1: pages whose own content loops are
    trimmed, not just scored — :func:`repetition_score` measures, this
    repairs). Each doc's non-empty tokens are cut into consecutive
    ``span_words``-word spans (stride = width); only the FIRST occurrence
    of each span text survives, in order. Output::

        (doc_id, n_spans, n_repeated, clean_text)

    Complements ``operators.dedup.span_dedup`` (corpus-wide duplicated
    spans): this one needs no corpus state at all.

    ZERO shuffle: spans and the first-occurrence filter are higher-order
    array expressions over the doc's own row. First-occurrence-wins IS
    ``array_distinct`` (Spark keeps the first occurrence of each value in
    encounter order), which runs LINEAR in the span count — the earlier
    ``filter(array_position == i+1)`` formulation was O(spans²) on a
    single task row, so one 200k-word outlier page could pin a task for
    ~10¹⁰ comparisons; ``array_distinct``'s hash-set pass makes the tail
    doc cost O(doc length), same as every other row-local text operator.

    The word array and the span array are each STAGED through their own
    projection (see :func:`~hadoop_tfidf_spark.operators.dedup.shingles`
    for the full argument): a lambda body that closes over the raw
    ``split(text)`` expression re-evaluates that split once PER SPAN
    (measured: a 100k-word doc never finishes), because higher-order
    lambdas re-run their inlined subtrees per element — binding the array
    to a column first makes each pass evaluate once per row, and
    CollapseProject keeps multi-referenced non-cheap aliases staged.
    Document-local work that scales with executors, never a join.
    """
    words = _nonempty_words(F.col("text"))
    staged = docs.select("doc_id", words.alias("_w"))
    spans = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_w"), F.lit(1)), F.lit(span_words)),
        lambda s: F.array_join(F.slice(F.col("_w"), s, span_words), " "),
    )
    spans = F.when(F.size("_w") > 0, spans).otherwise(
        F.array().cast("array<string>")
    )
    staged2 = staged.select("doc_id", spans.alias("_spans"))
    kept = F.array_distinct(F.col("_spans"))
    return staged2.select(
        "doc_id",
        F.size("_spans").cast("bigint").alias("n_spans"),
        (F.size("_spans") - F.size(kept)).cast("bigint").alias("n_repeated"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    k: int = 3,
    max_overlap: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination, APPLY form: drop every candidate doc
    whose distinct-``k``-gram overlap with the benchmark corpus exceeds
    ``max_overlap`` (:func:`contamination_check` measures; this removes —
    the check/apply pairing of ``exact_dedup``/``exact_dedup_apply``).
    Docs shorter than ``k`` words carry no shingle evidence and are kept.
    Returns the cleaned ``(doc_id, text)`` corpus.

    The filter compares against the ROUNDED ratio (the hash-gate
    contract), so the kept set is engine-exact. Plan: the check's
    semi-join + two aggs produce a (small) drop list of doc_ids; one
    ``left_anti`` join keyed on doc_id removes them — the corpus never
    shuffles on anything wider than its id.
    """
    dropped = (
        contamination_check(docs, bench_docs, k=k)
        .where(F.col("overlap_ratio") > max_overlap)
        .select("doc_id")
    )
    return docs.join(dropped, "doc_id", "left_anti")


#: Default Bloom-filter geometry for :func:`bloom_bitmap`: 2¹⁶ bits packed
#: into 32-bit lanes of BIGINT words (2,048 words = 16 KiB per filter) and
#: 4 Carter–Wegman hashes — sized for the gate corpus. Production sizes
#: the filter by the benchmark shingle count via :func:`bloom_geometry`
#: (m ≈ 10·n gives ~1% FP); an UNDERSIZED filter degrades one-sidedly (FP
#: rate → 1, decontamination over-drops) — see the saturation test in
#: tests/test_bloom.py.
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 4
_BLOOM_LANE = 32  # bits per packed word — low half of a BIGINT, sign-safe


def bloom_geometry(
    n_keys: int, bits_per_key: int = 10, hashes: int | None = None
) -> tuple[int, int, int]:
    """Production sizing for :func:`bloom_bitmap`: given the benchmark
    release's distinct-shingle count (one ``count(distinct)`` query, or
    a ceiling estimate), return ``(bits_per_shard, hashes, n_shards)``.
    ``hashes`` defaults to the FP-optimal ``round(ln2 * bits_per_key)``
    capped at the universal-hash family size: h=7 and ~0.8% FP at the
    default 10 bits/key.

    Positions are ``(a·x + b) mod M31 mod bits``, so bits beyond M31
    (2³¹−1, a ~256 MB filter) can never be set. Below that ceiling
    ``n_shards`` is 1 and ``bits_per_shard`` is ``n_keys * bits_per_key``
    rounded up to a whole 32-bit lane. Past it (a 10⁹-shingle release at
    10 bits/key wants ~10 Gbit) the KEY SET is partitioned by its base
    hash modulo ``n_shards`` into the fewest shards whose lane-rounded
    filter fits, each sized for its ~1/S key share. Each key probes only
    its own shard, so the per-key FP math is unchanged (pairwise
    independence of the Carter–Wegman positions holds within any residue
    class of the shard modulus)."""
    if n_keys <= 0:
        raise ValueError("n_keys must be positive")
    ceiling = M31 - (M31 % _BLOOM_LANE)
    n_shards = -(-max(_BLOOM_LANE, n_keys * bits_per_key) // ceiling)
    # Lane rounding alone can push a shard past the ceiling its count was
    # derived from (n_keys=429,496,723 at 10 b/key: 2 shards of
    # 2,147,483,620 bits round up to 2,147,483,648 > M31), so recount
    # from the ROUNDED size; each retry shrinks the per-shard key share,
    # so this ends within a couple of steps.
    while True:
        keys_per_shard = -(-n_keys // n_shards)
        bits = max(
            _BLOOM_LANE,
            -(-keys_per_shard * bits_per_key // _BLOOM_LANE) * _BLOOM_LANE,
        )
        if bits <= ceiling:
            break
        n_shards += 1
    if hashes is None:
        hashes = min(max(1, round(0.6931 * bits_per_key)), len(MINHASH_A))
    return bits, hashes, n_shards


def _check_geometry(bits: int, hashes: int, n_shards: int = 1) -> None:
    if bits < _BLOOM_LANE or bits % _BLOOM_LANE:
        raise ValueError(f"bits must be a positive multiple of {_BLOOM_LANE}")
    if bits > M31:
        raise ValueError(
            f"bits={bits} exceeds the hash range (mod {M31}) — positions "
            "past it can never be set; use more shards (bloom_geometry)"
        )
    if not 1 <= hashes <= len(MINHASH_A):
        raise ValueError(
            f"hashes must be in 1..{len(MINHASH_A)} (the universal-hash "
            "family size)"
        )
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")


@dataclasses.dataclass
class BloomFilter:
    """The benchmark Bloom filter, the one artifact every probe takes:
    ``n_shards`` filters of ``bits_per_shard`` bits as one flat
    shard-major array of packed 32-bit lanes, plus the ``hashes``
    positions per key and the shingle width ``k`` it was built over. A
    single filter is ``n_shards == 1``. Probes read ``hashes`` and ``k``
    from here, never from the caller: probing with more hashes or another
    shingle width than the build silently loses the no-false-negative
    guarantee, the one failure a decontaminator must never have."""

    words: list[int]
    bits_per_shard: int
    n_shards: int
    hashes: int
    k: int

    def __post_init__(self):
        _check_geometry(self.bits_per_shard, self.hashes, self.n_shards)
        if len(self.words) != self.n_shards * (self.bits_per_shard // _BLOOM_LANE):
            raise ValueError(
                "BloomFilter words length does not match its geometry "
                f"({len(self.words)} words for {self.n_shards} shards "
                f"x {self.bits_per_shard} bits)"
            )


def _bloom_positions(x: Column, bits: int, hashes: int) -> list[Column]:
    """The ``hashes`` Carter–Wegman bit positions for a base-hash
    column — THE single definition of the filter's hash geometry (build
    and both probes route through here; the DuckDB oracle replays the
    same formula via ``_bloom_pos_sql``)."""
    return [
        ((F.lit(MINHASH_A[h]) * x + F.lit(MINHASH_B[h])) % F.lit(M31))
        % F.lit(bits)
        for h in range(hashes)
    ]


def _bloom_word(x: Column, pos: Column, bits_per_shard: int, n_shards: int) -> Column:
    """0-based index, in the flat shard-major word array, of the lane
    holding bit ``pos`` of key ``x``'s shard — shared by build and probe.
    The shard offset ``(x % n_shards) · words_per_shard`` is emitted only
    past one shard, so a single filter's plan has no ``x % 1`` term."""
    word = (pos / _BLOOM_LANE).cast("int")
    if n_shards > 1:
        word = ((x % n_shards) * (bits_per_shard // _BLOOM_LANE) + word).cast("int")
    return word


def _lane_bit(pos: Column) -> Column:
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % _BLOOM_LANE).cast("int")
    )


def _bloom_words(
    bench_docs: DataFrame,
    k: int,
    bits_per_shard: int,
    hashes: int,
    n_shards: int,
    shard: int | None = None,
) -> DataFrame:
    """The one build aggregation: every ``k``-gram shingle's ``hashes``
    positions in its own shard, OR-packed by one ``bit_or`` into
    ``(w_idx, bits)`` rows, one per NONZERO word. ``w_idx`` indexes the
    flat shard-major word array, or, given ``shard``, only that shard's
    keys and words, relative to the shard. (No pre-distinct: ``bit_or``
    is duplicate-invariant, same reasoning as ``min()`` in
    ``minhash_signatures``.)"""
    xs = shingles(bench_docs, k=k).select(_md5_base(F.col("shingle")).alias("x"))
    if shard is not None:
        xs = xs.where(F.col("x") % n_shards == shard)
    pos = F.array(*_bloom_positions(F.col("x"), bits_per_shard, hashes))
    flat_shards = n_shards if shard is None else 1
    return (
        xs.select("x", F.explode(pos).alias("pos"))
        .groupBy(
            _bloom_word(F.col("x"), F.col("pos"), bits_per_shard, flat_shards)
            .alias("w_idx")
        )
        .agg(F.bit_or(_lane_bit(F.col("pos"))).alias("bits"))
    )


def bloom_bitmap(
    bench_docs: DataFrame,
    k: int = 3,
    bits_per_shard: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
    n_shards: int = 1,
) -> BloomFilter:
    """Build the benchmark Bloom filter ONCE: distinct ``k``-gram
    shingles → ``hashes`` Carter–Wegman positions each, in the shard
    ``base_hash % n_shards`` → one ``bit_or`` aggregation over all
    shards (16 KiB at the default geometry; size production filters with
    :func:`bloom_geometry`). Benchmarks are static: production builds
    this per benchmark release and probes every corpus against it — the
    build-once / probe-many split of the ivfsq ``index=`` pattern. The
    nonzero words are collected and scattered onto zeros, so the driver
    holds the whole filter. Past a few thousand words, store it instead
    (:func:`bloom_store_sharded`): the driver then holds none of it."""
    _check_geometry(bits_per_shard, hashes, n_shards)
    words = [0] * (n_shards * (bits_per_shard // _BLOOM_LANE))
    for row in _bloom_words(
        bench_docs, k, bits_per_shard, hashes, n_shards
    ).collect():
        words[row["w_idx"]] = row["bits"]
    return BloomFilter(words, bits_per_shard, n_shards, hashes, k)


#: Per-worker-process cache for stored Bloom filters: Spark reuses
#: Python workers (spark.python.worker.reuse), so each worker loads the
#: word array from storage ONCE and every later task on that worker
#: probes from memory. Keyed by filter dir; values are numpy int64.
_STORED_BLOOM_CACHE: dict = {}


def bloom_store_sharded(
    bench_docs: DataFrame,
    filter_dir: str,
    k: int = 3,
    bits_per_shard: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
    n_shards: int = 1,
) -> str:
    """Build a benchmark Bloom filter INTO STORAGE, one shard at a time
    — the largest-geometry form: the :func:`bloom_bitmap` aggregation
    runs once per shard and the executors write its ``(w_idx, bits)``
    rows straight to parquet ``words/shard=i`` (``w_idx`` relative to
    the shard, one file per shard), so the driver never holds a word.
    Only nonzero words are stored; the loader scatters them onto zeros,
    so a dense shard written by an earlier build loads the same way.
    ``geometry.json`` (geometry plus ``k``) lands LAST + atomically (the
    ``save_index`` commit-marker pattern — a crashed build can never be
    probed). Probe with :func:`contamination_bloom_stored`, which loads
    the words executor-side from this directory: the filter never rides
    a plan or the driver."""
    _check_geometry(bits_per_shard, hashes, n_shards)
    if os.path.exists(f"{filter_dir}/geometry.json"):
        raise FileExistsError(
            f"{filter_dir}/geometry.json already exists; a stored filter "
            "is a versioned artifact — build the new benchmark release "
            "into a new directory"
        )
    for shard in range(n_shards):
        _bloom_words(
            bench_docs, k, bits_per_shard, hashes, n_shards, shard
        ).coalesce(1).write.mode("error").parquet(
            f"{filter_dir}/words/shard={shard}"
        )
    geom = {
        "format_version": 1,
        "bits_per_shard": bits_per_shard,
        "n_shards": n_shards,
        "hashes": hashes,
        "k": k,
    }
    tmp = f"{filter_dir}/geometry.json.tmp"
    with open(tmp, "w") as f:
        json.dump(geom, f, sort_keys=True)
    os.rename(tmp, f"{filter_dir}/geometry.json")
    return filter_dir


def _stored_geometry(filter_dir: str) -> dict:
    """``geometry.json`` of a stored filter; refuses a directory without
    that commit marker — a crashed build."""
    path = f"{filter_dir}/geometry.json"
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"{path} not found — not a stored Bloom filter (a crashed "
            "build leaves no geometry marker by design)"
        )
    with open(path) as f:
        geom = json.load(f)
    _check_geometry(geom["bits_per_shard"], geom["hashes"], geom["n_shards"])
    return geom


def _load_stored_bloom_words(filter_dir: str, geom: dict):
    """Worker-side load of a stored filter into one flat shard-major
    numpy array, memoized per Python worker process."""
    cached = _STORED_BLOOM_CACHE.get(filter_dir)
    if cached is not None:
        return cached
    import numpy as np
    import pyarrow.parquet as pq

    wps = geom["bits_per_shard"] // _BLOOM_LANE
    flat = np.zeros(geom["n_shards"] * wps, dtype=np.int64)
    for shard in range(geom["n_shards"]):
        t = pq.read_table(f"{filter_dir}/words/shard={shard}")
        idx = t.column("w_idx").to_numpy()
        bits = t.column("bits").to_numpy()
        flat[shard * wps + idx] = bits
    _STORED_BLOOM_CACHE[filter_dir] = flat
    return flat


def load_stored_bloom(filter_dir: str) -> BloomFilter:
    """Read a stored filter back into the in-memory :class:`BloomFilter`
    (for the plan-literal probes or inspection), ``k`` included."""
    geom = _stored_geometry(filter_dir)
    flat = _load_stored_bloom_words(filter_dir, geom)
    return BloomFilter(
        [int(w) for w in flat],
        geom["bits_per_shard"],
        geom["n_shards"],
        geom["hashes"],
        geom["k"],
    )


def _bloom_probe(x: Column, words: Column, bloom: BloomFilter) -> Column:
    """Membership test for a base-hash column ``x``: all ``hashes``
    positions' lane bits set in ``x``'s shard of ``words``. Callers
    stage ``words`` as a column of the projection beneath — ONE parsed
    ``CAST(ARRAY(…) AS ARRAY<BIGINT>)`` literal (``literals._lit_array``;
    ``F.lit(list)`` makes one py4j round trip per word, ~1 s at the
    default 2,048 words). Referenced inline, the analyzer would walk the
    whole array once per hash (~4× the plan-build time); the optimizer
    folds the staged column back into the same constant. Pure integer
    arithmetic — safe inside higher-order lambdas and codegen'd
    projections alike."""
    probe = F.lit(True)
    for pos in _bloom_positions(x, bloom.bits_per_shard, bloom.hashes):
        word = F.element_at(
            words, _bloom_word(x, pos, bloom.bits_per_shard, bloom.n_shards) + 1
        )
        probe = probe & (word.bitwiseAND(_lane_bit(pos)) != 0)
    return probe


def contamination_bloom_stateless(
    docs: DataFrame, bloom: BloomFilter, max_overlap: float = 0.1
) -> DataFrame:
    """Bloom contamination verdicts computed ENTIRELY row-locally — the
    streaming-safe form: per doc, distinct ``k``-gram shingles via
    ``array_distinct`` over a staged gram array, base hashes via a
    nested ``transform``, hits via ``size(filter(...))`` with the
    :func:`_bloom_probe` mask test inside the lambda. ZERO aggregation,
    ZERO joins, ZERO shuffles — a pure projection, so it runs in pure
    append-mode streams with no watermark or state (a stateless
    micro-batch emits every doc exactly once regardless of file pickup
    order), and in batch it preserves scan partitioning end to end.

    Emits EVERY input doc: ``(doc_id, n_shingles, n_hits, keep)`` with
    ``keep`` = 1 when the doc is shorter than ``k`` words (no shingle
    evidence, same rule as :func:`decontaminate`) or its rounded Bloom
    overlap ratio is ≤ ``max_overlap``. Takes a prebuilt ``bloom``
    (:func:`bloom_bitmap`) — a stream cannot build its own filter.

    The arrays are staged through their own projections (``_w`` →
    ``_g`` → ``_x`` → ``n_hits``) so no higher-order lambda or
    multi-referenced expression re-evaluates its inlined subtree per
    use (the O(words²) trap — see ``dedup.shingles``; ``n_hits`` is
    staged for the same reason — inlined into ``keep`` the full
    Bloom-probe filter would run twice per row).
    """
    k = bloom.k
    grams = F.when(
        F.size("_w") >= k, F.array_distinct(_kgrams(F.col("_w"), k))
    ).otherwise(F.array().cast("array<string>"))
    hits = F.size(
        F.filter("_x", lambda x: _bloom_probe(x, F.col("_bloom"), bloom))
    )
    return (
        docs.select("doc_id", _words(F.col("text")).alias("_w"))
        .select("doc_id", grams.alias("_g"))
        .select(
            "doc_id",
            F.size("_g").cast("bigint").alias("n_shingles"),
            F.transform("_g", _md5_base).alias("_x"),
            _lit_array(bloom.words).alias("_bloom"),
        )
        .select("doc_id", "n_shingles", hits.cast("bigint").alias("n_hits"))
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.when(F.col("n_shingles") == 0, F.lit(1))
            .otherwise(
                (
                    F.round(F.col("n_hits") / F.col("n_shingles"), 6)
                    <= F.lit(max_overlap)
                ).cast("int")
            )
            .cast("int")
            .alias("keep"),
        )
    )


def _numpy_bloom_probe_fn(filter_dir: str, geom: dict, max_overlap: float):
    """The numpy batch probe of a stored filter: same shingling as the
    expression probe (single-space split, k-grams, distinct), same md5
    base / Carter–Wegman positions / shard-major word layout, same
    HALF_UP keep rule. The word array is loaded on the worker, once per
    worker process (:data:`_STORED_BLOOM_CACHE`)."""
    bits, n_shards = geom["bits_per_shard"], geom["n_shards"]
    hashes, k = geom["hashes"], geom["k"]
    A = [int(a) for a in MINHASH_A[:hashes]]
    B = [int(b) for b in MINHASH_B[:hashes]]
    wps = bits // _BLOOM_LANE

    def probe(batches):
        import hashlib
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as _np
        import pandas as pd

        words = _load_stored_bloom_words(filter_dir, geom)
        for pdf in batches:
            ids, ns, hits_out, keeps = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # mirror the expression form exactly: split on single
                # spaces (empty tokens preserved), k-grams joined by
                # " ", distinct
                w = ("" if text is None else text).split(" ")
                grams = (
                    {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}
                    if len(w) >= k
                    else set()
                )
                n = len(grams)
                if n == 0:
                    hit_n, keep = 0, 1
                else:
                    xs = _np.fromiter(
                        (
                            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                            % M31
                            for g in grams
                        ),
                        dtype=_np.int64,
                        count=n,
                    )
                    ok = _np.ones(n, dtype=bool)
                    base_word = (xs % n_shards) * wps
                    for h in range(hashes):
                        pos = (A[h] * xs + B[h]) % M31 % bits
                        word = words[base_word + pos // _BLOOM_LANE]
                        ok &= ((word >> (pos % _BLOOM_LANE)) & 1).astype(bool)
                    hit_n = int(ok.sum())
                    # F.round is HALF_UP on the shortest decimal repr of
                    # the double — BigDecimal.valueOf semantics
                    ratio = Decimal(str(hit_n / n)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                    keep = 1 if float(ratio) <= max_overlap else 0
                ids.append(doc_id)
                ns.append(n)
                hits_out.append(hit_n)
                keeps.append(keep)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_shingles": ns,
                    "n_hits": hits_out,
                    "keep": keeps,
                }
            )

    return probe


def contamination_bloom_stored(
    docs: DataFrame, filter_dir: str, max_overlap: float = 0.1
) -> DataFrame:
    """:func:`contamination_bloom_stateless` against a STORED filter
    (:func:`bloom_store_sharded`) — the largest-geometry serving shape,
    row-equal to the literal probe of the same filter (pinned in tests).
    The ``mapInPandas`` closure captures only the directory PATH; each
    Python worker loads the word array from storage once and probes
    every later batch from memory, so nothing filter-sized touches the
    plan or the driver. Geometry and ``k`` come from ``geometry.json``.
    Measured (SCALE.md), from 0.5 MB up it beats the plan literal once
    the literal's plan build is counted, and it beat a broadcast handle
    at every size."""
    geom = _stored_geometry(filter_dir)
    id_type = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", "text").mapInPandas(
        _numpy_bloom_probe_fn(filter_dir, geom, max_overlap),
        f"doc_id {id_type}, n_shingles BIGINT, n_hits BIGINT, keep INT",
    )


def _drop_flagged(docs: DataFrame, verdicts: DataFrame) -> DataFrame:
    """The APPLY step of both Bloom forms: the ``keep == 0`` verdicts
    are a doc_id-sized drop set that anti-joins back on the id — the
    same final shape as :func:`decontaminate` minus its shingle
    shuffles. Only ever drops a superset of the exact form's drop set
    (one-sided error); sub-``k``-word docs carry no evidence and are
    kept."""
    dropped = verdicts.where(F.col("keep") == 0).select("doc_id")
    return docs.join(dropped, "doc_id", "left_anti")


def decontaminate_bloom(
    docs: DataFrame, bloom: BloomFilter, max_overlap: float = 0.1
) -> DataFrame:
    """APPLY form of the Bloom decontamination — the drop-in counterpart
    of :func:`decontaminate` for when the benchmark shingle set is too
    large to move (SCALE.md "Bloom decontamination"): keep every doc
    whose row-local overlap with ``bloom`` is ≤ ``max_overlap``. Returns
    the cleaned corpus with its input columns."""
    return _drop_flagged(
        docs, contamination_bloom_stateless(docs, bloom, max_overlap)
    )


def decontaminate_bloom_stored(
    docs: DataFrame, filter_dir: str, max_overlap: float = 0.1
) -> DataFrame:
    """:func:`decontaminate_bloom` against a stored filter directory."""
    return _drop_flagged(
        docs, contamination_bloom_stored(docs, filter_dir, max_overlap)
    )


def contamination_bloom(docs: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Benchmark-contamination scan, BLOOM form — the 100 TB shape of
    :func:`contamination_check`: instead of semi-joining the candidate
    shingle stream against the benchmark shingle set (a shuffle keyed
    on the shingle hash, O(corpus shingles) rows moved), the benchmark
    set is a prebuilt :class:`BloomFilter` (:func:`bloom_bitmap`) that
    ships to every executor as a plan literal. Membership is then a
    row-local ``element_at`` + mask expression inside the candidate
    scan stage: the corpus-side dataflow has ZERO joins and ZERO
    shuffles before the final doc-grain aggregation. This is the batch
    AUDIT form; :func:`contamination_bloom_stateless` is the row-local
    verdict. The two give the same counts, but here the md5 and the
    probe run under whole-stage codegen after the explode, where the
    row-local form's lambdas run interpreted (measured on sf0.1: 2.2–2.5
    s vs 3.7–4.3 s for the same 4,500 rows).

    One-sided error, surfaced not hidden: a Bloom hit can be a false
    positive (``n_hits`` here ≥ the exact form's — never a false
    negative), which only ever *drops extra* candidate docs — the safe
    direction for decontamination. Pair with
    :func:`contamination_check` on a sample to audit the FP rate (the
    ``text_decontaminate_bloom`` gate row does exactly that).

    When to use which (measured, SCALE.md "Bloom decontamination"):
    while the benchmark shingle set fits Spark's broadcast threshold as
    STRINGS, the exact semi-join is faster (no per-shingle md5; AQE
    broadcasts the bench side) — at a derived 10× sf0.1 corpus the
    exact form won 1.45 s vs 2.06 s probe-only. The Bloom form is for
    when it does NOT fit: its broadcast cost is fixed by the filter
    geometry (16 KiB here, a few MB at production sizing) no matter how
    many benchmarks fold in, and its corpus-side dataflow never
    shuffles a shingle string — the exact form's candidate ``distinct``
    exchange, O(corpus shingle strings), is the piece that spills first
    at 100 TB. Probe cost is 1 md5 + a few dozen integer ops per
    (doc, distinct shingle), embarrassingly parallel CPU. Everything is
    integer/md5 arithmetic replayable verbatim in the DuckDB oracle.

    Returns ``(doc_id, n_shingles, n_hits, overlap_ratio)`` — the exact
    schema of :func:`contamination_check`.
    """
    # Per-doc DISTINCT shingles built ROW-LOCALLY (array_distinct before
    # the explode — no distinct exchange, unlike the exact form's
    # candidate side), then the codegen'd membership expression; the one
    # and only shuffle is the doc-grain count/sum over (doc_id, boolean)
    # rows. The word array and base hash are staged through their own
    # projections (the O(words²) HOF trap — see dedup.shingles).
    k = bloom.k
    wcol = _words(F.col("text"))
    return (
        docs.where(F.size(wcol) >= k)
        .select("doc_id", wcol.alias("_w"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(_kgrams(F.col("_w"), k))).alias("shingle"),
        )
        .select(
            "doc_id",
            _md5_base(F.col("shingle")).alias("x"),
            _lit_array(bloom.words).alias("_bloom"),
        )
        .select(
            "doc_id", _bloom_probe(F.col("x"), F.col("_bloom"), bloom).alias("hit")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.col("hit").cast("bigint")).cast("bigint").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 6).alias(
                "overlap_ratio"
            ),
        )
    )


def bpe_pair_counts(docs: DataFrame, top: int = 100) -> DataFrame:
    """First-round BPE merge statistics (Sennrich et al. 2016, the GPT-2
    tokenizer-training recipe): adjacent symbol-pair frequencies over
    the word-frequency table with characters as the initial symbols —
    the relation whose argmax IS the first merge a tokenizer trainer
    picks. Output top-``top`` rows
    ``(left_sym, right_sym, pair_count)``, totally ordered by
    (count desc, left, right) so the cut is deterministic on any engine.

    Scale shape: the corpus is touched ONCE by the word-count
    aggregation (uniform md5-friendly key, map-side partial); the char
    explode and pair counting then run over the DISTINCT VOCABULARY
    weighted by word counts — vocabulary-sized work regardless of
    corpus size, exactly how production BPE trainers operate on a word
    histogram, never the raw text. The char array is staged through a
    projection so the indexed pair lambda doesn't re-split the word per
    element (the O(len²) HOF trap)."""
    words = _nonempty_words(F.col("text"))
    vocab = (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    staged = vocab.select("word", "n", F.split("word", "").alias("_c"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_c") - 1),
        lambda i: F.struct(
            F.element_at(F.col("_c"), i).alias("left_sym"),
            F.element_at(F.col("_c"), i + 1).alias("right_sym"),
        ),
    )
    return (
        staged.where(F.size("_c") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(top)
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 10
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Reference BPE trainer loop over the word-frequency table: start
    from character symbols, then ``n_merges`` times pick the most
    frequent adjacent pair (count desc, then lexicographic — fully
    deterministic) and merge it everywhere. Returns the ordered merge
    list and the final symbolized vocabulary ``(word, symbols, n)``.

    Scale shape: every iteration is ONE vocabulary-sized aggregation
    (pair counts ride the same partial-agg shape as
    :func:`bpe_pair_counts`) plus a 1-row collect of the winning pair —
    the only driver data is the merge itself. The per-word merge rewrite
    is a row-local ``aggregate`` fold (words are tens of symbols, so
    the append-copies-accumulator cost is negligible); the vocab
    persists each round and the previous generation unpersists, the
    connected-components lineage pattern. Production trainers sample
    the corpus for the histogram — at 100 TB pass ``docs.sample()``."""
    words = _nonempty_words(F.col("text"))
    vocab = (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select("word", "n", F.split("word", "").alias("symbols"))
        .persist()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("symbols") - 1),
            lambda i: F.struct(
                F.element_at(F.col("symbols"), i).alias("l"),
                F.element_at(F.col("symbols"), i + 1).alias("r"),
            ),
        )
        best = (
            vocab.where(F.size("symbols") >= 2)
            .select("n", F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0]["l"], best[0]["r"]
        merges.append((left, right))
        merged = F.concat(F.lit(left), F.lit(right))
        # row-local merge: left-to-right fold, non-overlapping (a merged
        # token can't re-merge with the next raw symbol this round —
        # standard BPE application order)
        # Whole-element equality keeps rounds honest: a token produced
        # by THIS round's merge is the full `left+right` string, which
        # can never equal `left` again, so merges don't overlap
        # ("aaaa" + merge(a,a) → [aa, aa], not [aa, aaa]).
        new_syms = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = vocab.select("word", "n", new_syms.alias("symbols")).persist()
        nxt.count()  # materialize before dropping the parent generation
        vocab.unpersist()
        vocab = nxt
    return merges, vocab


def bpe_token_counts(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-document token counts under a TRAINED BPE tokenizer — the
    budget unit that actually matters for sequence packing and mixture
    accounting (whitespace words over-count rare words, under-count
    merged subwords). ``vocab`` is :func:`bpe_train`'s symbolized
    vocabulary ``(word, n, symbols)``; since every corpus word's
    post-merge form is already there, the per-doc count is one
    word-keyed equi-join + sum — merges are NEVER re-applied per
    document. Output ``(doc_id, n_words, n_bpe_tokens)``.

    Scale: tokens explode once (the same relation the TF-IDF core
    shuffles), the vocab side joins on the uniform word key, one
    doc_id-keyed aggregation.

    BYTE-FALLBACK for held-out corpora: a word with no vocab row (the
    scored corpus is not the training corpus — the deployment every
    production tokenizer faces) counts ``length(word)`` fallback tokens,
    exactly what a tokenizer with character/byte fallback would emit for
    a fully-unknown word (its symbols never merged). The vocab join is
    therefore a LEFT join + coalesce — never an inner join that silently
    deflates the budget of out-of-train documents. ``n_fallback_words``
    reports how many words fell back, so budget consumers can see when a
    vocab is badly mismatched to the corpus it's billing. On the
    training corpus itself every word has a row, so the fallback path is
    exercised zero times and counts are identical to the old inner-join
    form."""
    words = _nonempty_words(F.col("text"))
    tok = docs.select("doc_id", F.explode(words).alias("word"))
    return (
        tok.join(
            vocab.select("word", F.size("symbols").alias("_ns")),
            "word",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.coalesce(F.col("_ns"), F.length("word")))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            F.sum(F.when(F.col("_ns").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fallback_words"),
        )
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus governance dashboard: document count, total and
    mean token counts, distinct-word vocabulary size, and language
    spread for every ``source`` — the per-provenance telemetry a
    curation pipeline reviews before setting mixture weights (which
    crawls are token-heavy, which are vocabulary-poor boilerplate,
    which carry unexpected languages).

    Plan: one narrow per-doc projection (token count via a scan-stage
    ``size(filter(split))`` — no explode) feeding a source-keyed
    aggregation, plus ONE token explode for the distinct-vocabulary
    count, joined back on the tiny source relation (broadcast). Two
    shuffles total, both keyed by ``source`` with map-side partial
    aggregation; the explode never crosses the shuffle wider than one
    row per distinct (source, word) per partition. Sources are few and
    docs hash-spread across them, so no skew salting is needed — the
    heavy lifting (per-doc token counts) happens before any shuffle.
    """
    words = _nonempty_words(F.col("text"))
    base = docs.select(
        "source", "lang", F.size(words).cast("bigint").alias("_nt")
    )
    agg = base.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
        F.round(F.sum("_nt") / F.count("*"), 6).alias("avg_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    vocab = (
        docs.select("source", F.explode(words).alias("word"))
        .groupBy("source")
        .agg(F.countDistinct("word").cast("bigint").alias("vocab"))
    )
    return agg.join(F.broadcast(vocab), "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "avg_tokens",
        F.coalesce(F.col("vocab"), F.lit(0)).cast("bigint").alias("vocab"),
        "n_langs",
    )


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's DISTINCT
    word ``n``-grams that appear in no other document — cross-document
    memorization/duplication telemetry at finer grain than whole-doc
    dedup (a doc can be 40% boilerplate shared with the rest of its
    crawl yet never be a near-duplicate of any single other doc).
    Output ``(doc_id, n_grams, n_shared, novelty)`` where ``n_shared``
    counts grams with corpus document-frequency ≥ 2 and ``novelty`` =
    ``1 − n_shared / n_grams`` (docs shorter than ``n`` words emit no
    row — they have no n-gram to judge).

    Plan: the SURVEY O8 doc-frequency shape on shingles — distinct
    (doc, gram) pairs, one gram-keyed count, join back on the SAME key
    (co-partitioned sort-merge join, no second wide shuffle of the
    probe side), then a doc-keyed count. Every aggregation gets
    map-side partial combine; nothing is ever quadratic in corpus size
    and the gram relation is touched exactly twice.
    """
    grams = (
        shingles(docs, k=n).select("doc_id", "shingle").distinct()
    )
    df_ = grams.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("_df")
    )
    return (
        grams.join(df_, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.lit(1.0) - F.col("n_shared") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )
