"""Text-analysis / curation declared queries (lang-id, quality, BPE, DSIR, mixtures, packing, decontamination).

Split from the original single-module ``extensions.py`` (round 15) with
block text preserved verbatim; see the package ``__init__`` for the
registry contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from hadoop_tfidf_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from hadoop_tfidf_spark.extensions._base import (
    _docs,
    _tbl,
)



def q_text_pack_shuffled(spark, sf_dir):
    """Sequence packing in DETERMINISTIC-SHUFFLE order: docs within each
    shard ordered by ``md5("1:{doc_id}")`` instead of doc_id — the
    reproducible global shuffle a training loader wants (same deal on
    every engine/partitioning/rerun; change the seed to re-deal)."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget=512, n_buckets=8, shuffle_seed=1
    )


def q_text_self_dedup(spark, sf_dir):
    """Within-doc repeated-span removal (Gopher-style self-dedup repair,
    first-occurrence-wins) — zero-shuffle row-local cleanup; non-vacuous
    at sf0.01 with span_words=2 (~250 repeated spans in 181 docs)."""
    from hadoop_tfidf_spark.functions.text import self_dedup_spans

    return self_dedup_spans(_docs(spark, sf_dir), span_words=2)


def q_text_decontaminate(spark, sf_dir):
    """Decontamination APPLY: the candidate corpus (doc_id % 10 != 0)
    with every doc dropped whose 3-gram overlap against the benchmark
    slice (doc_id % 10 == 0) exceeds 0.1 — non-vacuous at sf0.01 (drops
    200 of 450 candidates)."""
    from hadoop_tfidf_spark.functions.text import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        k=3,
        max_overlap=0.1,
    )


def q_text_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: documents sampled per predicted
    language at different rates (majority 'en' downsampled to 10%, rare
    'und' kept at 50%) — content-addressed membership, so the oracle
    reproduces it exactly."""
    from hadoop_tfidf_spark.functions.text import lang_id_columns
    from hadoop_tfidf_spark.operators.sampling import (
        hash_bucket_col,
        stratified_hash_sample,
    )

    pred, _ = lang_id_columns(F.col("text"))
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", pred.alias("pred_lang")
    )
    out = stratified_hash_sample(
        docs, "doc_id", "pred_lang", {"en": 10, "und": 50}
    )
    return out.select(
        "doc_id",
        "pred_lang",
        hash_bucket_col(F.col("doc_id")).cast("bigint").alias("bucket"),
    )


def q_text_lm_score(spark, sf_dir):
    """Corpus-bigram-LM quality scores (functions.text.lm_score) — the
    perplexity-style pretraining filter, hash-gated against an SQL replay
    of the smoothed bigram model. Rebalanced scan: the bigram explode is
    CPU-bound row-local work that a single-file read would serialize
    (measured 2.2x at sf0.1)."""
    from hadoop_tfidf_spark.functions.text import lm_score

    return lm_score(_docs(spark, sf_dir, rebalance=True))


def q_text_lm_histogram(spark, sf_dir):
    """Perplexity-distribution telemetry: fixed-width histogram of the
    corpus-bigram LM score (bucket = floor(score/bucket_width), width
    0.015625 here) with doc shares —
    the threshold-picking chart of a curation run; one low-cardinality
    aggregation, never a global rank. Width 2^-6 (a power of two —
    exact IEEE division) resolves the synthetic corpus's tight score
    range ([-1.58, -1.41] at sf0.01) into ~10 buckets; real corpora
    spread over several log10 units and use the coarser default."""
    from hadoop_tfidf_spark.functions.text import lm_score_histogram

    return lm_score_histogram(
        _docs(spark, sf_dir, rebalance=True), bucket_width=0.015625
    )


def q_text_token_stats(spark, sf_dir):
    return token_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def q_text_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir, rebalance=True))


def q_text_bpe_pairs(spark, sf_dir):
    """Tokenizer-training statistics: first-round BPE pair counts over
    the word-frequency table (chars as initial symbols) — the relation
    whose argmax is the first merge; vocabulary-sized work after one
    corpus aggregation."""
    from hadoop_tfidf_spark.functions.text import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top=100)


#: Merge rounds for the gated BPE-vocabulary replay (each round is one
#: vocab aggregation + a 1-row collect Spark-side, and one CTE stage in
#: the oracle).
BPE_GATE_MERGES = 4


def q_text_bpe_vocab(spark, sf_dir):
    """The BPE TRAINER itself under the hash gate: run
    :func:`bpe_train` for :data:`BPE_GATE_MERGES` deterministic merges
    and emit the symbolized vocabulary — the oracle replays every round
    (pair counts → argmax by (count desc, pair) → non-overlapping
    left-to-right fold rewrite via ``list_reduce``), so the merge
    CHOICES and their application both hash-match, not just the
    first-round statistics."""
    from hadoop_tfidf_spark.functions.text import bpe_train

    _, vocab = bpe_train(_docs(spark, sf_dir), n_merges=BPE_GATE_MERGES)
    out = vocab.select(
        "word",
        F.col("n").cast("bigint").alias("n"),
        F.size("symbols").cast("int").alias("n_symbols"),
        F.array_join("symbols", " ").alias("symbols_str"),
    )
    # release the trainer's cache — the returned lazy plan re-derives
    # the fold chain from the collected merge literals (the
    # q_sim_topk_ivfpq pattern)
    vocab.unpersist()
    return out


def q_text_bpe_tokens(spark, sf_dir):
    """Per-doc token counts under the 4-merge trained BPE tokenizer —
    the packing/mixture budget unit; trainer runs once, the count is a
    word-keyed join + doc aggregation (merges never re-applied per
    doc). Oracle shares the trainer replay chain with
    text_bpe_vocab."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train

    _, vocab = bpe_train(_docs(spark, sf_dir), n_merges=BPE_GATE_MERGES)
    out = bpe_token_counts(_docs(spark, sf_dir), vocab)
    vocab.unpersist()  # lazy count plan re-derives the fold chain
    return out


#: Seed for the train/held-out split of the BPE holdout gate query.
BPE_HOLDOUT_SEED = "bpeho"


def q_text_bpe_tokens_holdout(spark, sf_dir):
    """BPE budget accounting for a HELD-OUT corpus — the deployment
    every production tokenizer faces: train the 4-merge tokenizer on
    half the corpus (hash-split by doc_id), then bill the OTHER half
    against that vocab. Unseen words take the char-length byte-fallback
    path (left join + coalesce — never silently dropped), and
    ``n_fallback_words`` surfaces the vocab/corpus mismatch rate. The
    oracle replays the trainer over the same train slice and the same
    left-join scoring of the complement."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train
    from hadoop_tfidf_spark.operators.sampling import hash_bucket_col

    docs = _docs(spark, sf_dir)
    bucket = hash_bucket_col(F.col("doc_id"), 2, BPE_HOLDOUT_SEED)
    _, vocab = bpe_train(docs.where(bucket == 0), n_merges=BPE_GATE_MERGES)
    out = bpe_token_counts(docs.where(bucket == 1), vocab)
    vocab.unpersist()  # lazy count plan re-derives the fold chain
    return out


def q_text_pack_bpe(spark, sf_dir):
    """Sequence packing budgeted in TRAINED-TOKENIZER tokens instead of
    whitespace words — the unit the training loader actually bills
    (whitespace over-counts rare words, under-counts merged subwords).
    Composition: the 4-merge BPE trainer -> per-doc counts -> the
    hash-bucketed packing window with ``tokens=n_bpe_tokens``; the
    oracle nests the full trainer replay under the pack replay."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    docs = _docs(spark, sf_dir)
    _, vocab = bpe_train(docs, n_merges=BPE_GATE_MERGES)
    out = pack_sequences(
        bpe_token_counts(docs, vocab), tokens=F.col("n_bpe_tokens")
    )
    vocab.unpersist()  # lazy pack plan re-derives the fold chain
    return out


def q_text_mixture_bpe(spark, sf_dir):
    """Mixture-weight accounting in BPE tokens: per-(source, lang) token
    shares and uniform-resample weights where the token is the trained
    tokenizer's — the number a pretraining recipe's mixture table
    actually uses. One doc_id equi-join (counts to strata columns), one
    strata-keyed aggregation."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train
    from hadoop_tfidf_spark.operators.sampling import mixture_weights

    docs = _docs(spark, sf_dir)
    _, vocab = bpe_train(docs, n_merges=BPE_GATE_MERGES)
    strata = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    joined = strata.join(bpe_token_counts(docs, vocab), "doc_id")
    out = mixture_weights(joined, tokens=F.col("n_bpe_tokens"))
    vocab.unpersist()
    return out


#: Hash-feature buckets / smoothing for the gated DSIR replay — small
#: enough that the oracle's window totals stay trivial, large enough
#: that bucket collisions don't flatten the signal at sf0.01.
DSIR_GATE_BUCKETS = 256
DSIR_GATE_TARGET = "src0"


def q_text_dsir(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): every doc scored by
    hashed-bigram log-likelihood ratio against the ``source = 'src0'``
    target slice — the data-selection signal for "find more docs like
    the trusted domain". Integer micro-log units make the per-doc sum
    engine-exact (the lm_score pattern)."""
    from hadoop_tfidf_spark.operators.sampling import dsir_importance

    return dsir_importance(
        _tbl(spark, sf_dir, "documents"),
        F.col("source") == DSIR_GATE_TARGET,
        n_buckets=DSIR_GATE_BUCKETS,
    )


def q_text_dsir_select(spark, sf_dir):
    """The DSIR selection cut: top-100 NON-target docs by importance
    weight (logratio desc, doc_id tiebreak) — the materialized "more
    data like the target" slice a pretraining recipe feeds back into
    the mixture. TakeOrderedAndProject, never a global sort."""
    from hadoop_tfidf_spark.operators.sampling import (
        dsir_importance,
        dsir_select,
    )

    docs = _tbl(spark, sf_dir, "documents")
    imp = dsir_importance(
        docs, F.col("source") == DSIR_GATE_TARGET, n_buckets=DSIR_GATE_BUCKETS
    )
    raw_only = imp.join(
        docs.where(F.col("source") == DSIR_GATE_TARGET).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    return dsir_select(raw_only, top_n=100)


def q_text_ngram_freq(spark, sf_dir):
    from hadoop_tfidf_spark.functions.text import ngram_freq

    return ngram_freq(_docs(spark, sf_dir), n=2, top=100)


def q_text_hash_sample(spark, sf_dir):
    """Deterministic 10% corpus sample + 90/5/5 split labels — membership
    is a pure function of doc_id (md5-bucketed), so it is reproducible in
    the oracle, across engines, and across incremental ingests."""
    from hadoop_tfidf_spark.operators.sampling import hash_bucket_col, hash_split

    docs = _docs(spark, sf_dir)
    labeled = hash_split(docs, "doc_id", {"train": 90, "valid": 5, "test": 5})
    return labeled.withColumn(
        "bucket", hash_bucket_col(F.col("doc_id")).cast("bigint")
    ).where(F.col("bucket") < 10).select("doc_id", "bucket", "split")


def q_text_cooccurrence(spark, sf_dir):
    from hadoop_tfidf_spark.functions.text import cooccurrence

    return cooccurrence(_docs(spark, sf_dir), top=100)


#: Gate/bench value for the cooccurrence per-doc vocab cap. Production runs
#: cap in the thousands (guard only the 50k-distinct-token outlier page,
#: whose single-key join group AQE cannot split); the synthetic corpus maxes
#: out at 31 distinct tokens per doc, so 25 is a value that *engages* the
#: valve here — it truncates 239 of 500 docs at sf0.01, giving the capped
#: dataflow (slice-before-explode) a real correctness row and bench signal
#: rather than a vacuous pass-through (same argument as
#: :data:`GATE_LSH_BUCKET_CAP`).
GATE_COOC_VOCAB_CAP = 25


def q_text_cooccurrence_capped(spark, sf_dir):
    """Co-occurrence with the ``max_doc_vocab`` 100 TB safety valve
    ENGAGED: each doc keeps only its first :data:`GATE_COOC_VOCAB_CAP`
    distinct tokens in document order before pairing — deterministic
    truncation the oracle replays via first-occurrence rank."""
    from hadoop_tfidf_spark.functions.text import cooccurrence

    return cooccurrence(
        _docs(spark, sf_dir), top=100, max_doc_vocab=GATE_COOC_VOCAB_CAP
    )


def q_text_contamination(spark, sf_dir):
    """Benchmark-decontamination scan: shingle overlap of candidate docs
    (doc_id % 10 != 0) against the held-out benchmark slice
    (doc_id % 10 == 0)."""
    from hadoop_tfidf_spark.functions.text import contamination_check

    docs = _docs(spark, sf_dir)
    return contamination_check(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        k=3,
    )


def q_text_chunk(spark, sf_dir):
    """Fixed-size token chunking (context-window prep), 32-token
    non-overlapping windows."""
    from hadoop_tfidf_spark.functions.text import chunk_tokens

    return chunk_tokens(_docs(spark, sf_dir), chunk_size=32)


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition statistics (duplicate word / duplicate
    3-gram ratios) — the boilerplate filter of a pretraining pipeline,
    zero-shuffle scan-stage expressions."""
    from hadoop_tfidf_spark.functions.text import repetition_score

    return repetition_score(_docs(spark, sf_dir))


def q_text_pii_redact(spark, sf_dir):
    """PII scrub over the corpus (emails/phones → tags + match counts;
    clean-text fingerprint is the hash-checked value)."""
    from hadoop_tfidf_spark.functions.text import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def q_text_c4_filters(spark, sf_dir):
    """C4/Gopher-style quality filter: per-rule measured values + 0/1
    verdict flags + the conjunctive keep bit (flags cast to INT for
    engine-portable hashing) — all zero-shuffle scan-stage expressions."""
    from hadoop_tfidf_spark.functions.text import c4_quality_filters

    out = c4_quality_filters(_docs(spark, sf_dir))
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


def q_text_mixture_weights(spark, sf_dir):
    """Data-mixture accounting per (source, lang): token share of the
    corpus and the uniform-target resampling weight — the mixture
    reweighting step of a corpus recipe. One strata-keyed aggregation +
    a broadcast 1-row totals join; output is strata-sized."""
    from hadoop_tfidf_spark.operators.sampling import mixture_weights

    return mixture_weights(_tbl(spark, sf_dir, "documents"), ["source", "lang"])


#: Temperature + token budget for the mixture-sampling pair: τ=0.5
#: (the sqrt flattening multilingual-T5 popularized) and a budget small
#: enough that no stratum saturates at 100% on the gate data — the
#: rate computation stays non-trivially engaged.
MIX_TAU = 0.5
MIX_BUDGET_TOKENS = 10_000


def q_text_mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture plan per source: n^τ target shares
    and the integer per-stratum sampling rates that realize a
    10k-token budget — the τ-flattening recipe (Pile/Gopher/mT5)
    between mixture accounting and the materialized sample. BIGINT
    micro-unit pow quantization makes the share denominator an exact
    integer sum, so the row hashes cross-engine."""
    from hadoop_tfidf_spark.operators.sampling import temperature_rates

    return temperature_rates(
        _tbl(spark, sf_dir, "documents"),
        tau=MIX_TAU,
        budget_tokens=MIX_BUDGET_TOKENS,
    )


def q_text_mixture_sample(spark, sf_dir):
    """The MATERIALIZED temperature mixture: compute the per-source
    rates (strata-sized collect — the legitimate kind) and apply them
    as a content-addressed stratified hash sample in one scan —
    weights → rates → corpus, the full mixture path a pretraining
    recipe actually executes. Membership is a pure function of
    (doc_id, source counts), so the sample is reproducible on any
    engine and stable under re-ingest."""
    from hadoop_tfidf_spark.operators.sampling import (
        stratified_hash_sample,
        temperature_rates,
    )

    docs = _tbl(spark, sf_dir, "documents")
    rates = {
        r["source"]: int(r["rate_pct"])
        for r in temperature_rates(
            docs, tau=MIX_TAU, budget_tokens=MIX_BUDGET_TOKENS
        ).collect()
    }
    return stratified_hash_sample(docs, "doc_id", "source", rates).select(
        "doc_id", "source", "lang"
    )


def q_text_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing into ~512-token training packs,
    sharded 8 ways by doc_id — concat-then-chunk GPT-style packing; all
    integer outputs, bit-stable on any engine/partitioning."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_buckets=8)


def q_text_source_stats(spark, sf_dir):
    """Per-source corpus governance dashboard: docs, tokens, mean
    tokens/doc, distinct-word vocabulary, language spread — the
    provenance telemetry reviewed before setting mixture weights.
    Reads the raw table directly: the stats need the ``source`` and
    ``lang`` provenance columns that ``_docs``'s narrow (doc_id, text)
    projection prunes away."""
    from hadoop_tfidf_spark.functions.text import source_stats

    return source_stats(_tbl(spark, sf_dir, "documents"))


def q_text_ngram_novelty(spark, sf_dir):
    """Per-document trigram novelty: the share of a doc's distinct
    3-grams appearing in no other document — finer-grain duplication
    telemetry than whole-doc dedup (spread 0.33–1.0 on the sf0.01
    corpus, so the gate relation is far from vacuous)."""
    from hadoop_tfidf_spark.functions.text import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), n=3)


def q_text_source_quality(spark, sf_dir):
    """Per-source QUALITY governance — the second half of the
    provenance dashboard (``text_source_stats`` counts tokens; this
    row says whether each source is worth its tokens): per source the
    doc count, the corpus quality-score mass and mean, and the C4
    rule-gate keep count and rate. The per-doc quality double is
    carried as exact micro-units (``round(quality·1e6)`` — one
    round-trip of an already-6dp value, so the BIGINT is engine-exact
    and the source SUM is order-independent); the mean divides two
    exact integers in one IEEE op. Plan: two zero-shuffle scan stages
    (quality + C4 flags) joined doc_id-keyed, one source-keyed agg."""
    from hadoop_tfidf_spark.functions.text import (
        c4_quality_filters,
        quality_score,
    )

    docs = _tbl(spark, sf_dir, "documents")
    narrow = docs.select("doc_id", "text")
    q = quality_score(narrow).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000, 0)
        .cast("bigint")
        .alias("_qu"),
    )
    c4 = c4_quality_filters(narrow).select(
        "doc_id", F.col("keep").cast("bigint").alias("_keep")
    )
    return (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(c4, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_qu").cast("bigint").alias("sum_quality_u"),
            F.round(
                F.sum("_qu") / (F.count("*") * F.lit(1_000_000.0)), 6
            ).alias("avg_quality"),
            F.sum("_keep").cast("bigint").alias("n_keep"),
            F.round(F.sum("_keep") / F.count("*"), 6).alias("keep_rate"),
        )
    )


#: Per-source adaptive quality cut: keep the top fraction per source.
QUALITY_TOP_FRAC = 0.2


def q_text_quality_adaptive(spark, sf_dir):
    """Per-source ADAPTIVE quality threshold — the governance step after
    the absolute C4 gate: keep the top :data:`QUALITY_TOP_FRAC` of docs
    PER SOURCE by quality score (rank over (quality desc, doc_id) vs a
    per-source ceil(q·n) cutoff), so a low-quality source cannot flood
    the corpus just by being large and a high-quality source is not
    over-pruned by a one-size threshold. Emits the kept rows with their
    rank and source size — the audit columns a curation review wants.

    Scale: ONE source-keyed shuffle and ZERO joins — quality and source
    come out of the same scan (``quality_score(keep_cols=)``), so there
    is no corpus-to-corpus join back on doc_id; the per-source sort is
    the exact gate form — at 100 TB the production variant is
    :func:`q_text_quality_adaptive_approx` (per-source
    ``percentile_approx`` cutoff, one agg + one filter, no sort); this
    exact window is the audit twin that approximation is checked
    against."""
    from hadoop_tfidf_spark.functions.text import quality_score

    j = quality_score(
        _tbl(spark, sf_dir, "documents"), keep_cols=("source",)
    ).select("doc_id", "source", "quality")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = j.select(
        "source",
        "doc_id",
        "quality",
        F.row_number().over(w).cast("bigint").alias("qrank"),
        F.count("*").over(Window.partitionBy("source")).alias("n_source"),
    )
    return ranked.where(
        F.col("qrank") <= F.ceil(F.lit(QUALITY_TOP_FRAC) * F.col("n_source"))
    ).select("source", "doc_id", "quality", "qrank", "n_source")


#: Sketch accuracy for the production adaptive cut (Spark default): the
#: cutoff's rank error is bounded by n_source / accuracy, so on the gate
#: fixture (n_source << 10⁴) the sketch holds every value and the cutoff
#: IS the exact discrete quantile — which is what lets the row hash-gate.
QUALITY_APPROX_ACC = 10_000


def q_text_quality_adaptive_approx(spark, sf_dir):
    """Round 13 — the 100 TB PRODUCTION form of the per-source adaptive
    quality cut: derive each source's cutoff from ONE
    ``percentile_approx(quality, 1-q)`` aggregation (map-side partial GK
    sketches merge to a 20-row relation — no per-source sort, no window,
    the corpus never shuffles), broadcast the tiny cutoff table back,
    and keep ``quality > cutoff``. Emits the per-source accounting a
    curation review wants: the cutoff, the approx kept count, the exact
    form's kept count (``ceil(q·n)``) and their delta — the "kept-set
    delta" that audits the approximation against the exact-window twin
    :func:`q_text_quality_adaptive`.

    Scale: the exact twin shuffles and sorts the WHOLE corpus by source
    (its window is the audit form); this one shuffles only GK sketch
    partials + a 20-row broadcast, and its second corpus pass is the
    production filter itself. Cutoff semantics: the smallest quality
    value whose ≤-fraction reaches ``1-q`` (Spark's percentile_approx
    definition) — the DuckDB oracle replays that DEFINITION with a
    cumulative window, exact on the gate fixture because n_source is far
    below :data:`QUALITY_APPROX_ACC` (at real scale the rank error is
    ≤ n_source/accuracy; that drift is exactly what ``delta`` measures).
    ``quality > cutoff`` keeps floor(q·n) rows on distinct values vs the
    exact form's ceil(q·n) rank cut, so |delta| ≤ 1 + ties by
    construction — asserted in tests, reported per source here."""
    from hadoop_tfidf_spark.functions.text import quality_score

    j = quality_score(
        _tbl(spark, sf_dir, "documents"), keep_cols=("source",)
    ).select("source", "quality")
    cuts = j.groupBy("source").agg(
        F.percentile_approx(
            "quality", 1.0 - QUALITY_TOP_FRAC, QUALITY_APPROX_ACC
        ).alias("cutoff"),
        F.count("*").alias("n_source"),
    )
    kept = (
        j.join(F.broadcast(cuts), "source")
        .where(F.col("quality") > F.col("cutoff"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        cuts.join(kept, "source", "left")
        .select(
            "source",
            "n_source",
            "cutoff",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.ceil(F.lit(QUALITY_TOP_FRAC) * F.col("n_source"))
            .cast("bigint")
            .alias("n_kept_exact"),
            (
                F.coalesce(F.col("n_kept"), F.lit(0))
                - F.ceil(F.lit(QUALITY_TOP_FRAC) * F.col("n_source"))
            )
            .cast("bigint")
            .alias("kept_delta"),
        )
    )


def q_text_decontaminate_bloom(spark, sf_dir):
    """Round 13 — the BROADCAST-BLOOM form of benchmark decontamination
    (functions/text.contamination_bloom) audited against the exact
    semi-join form on the same candidate/benchmark split as
    ``text_decontaminate``: per-doc ``(n_shingles, n_hits_exact,
    n_hits_bloom, n_false_pos, keep_exact, keep_bloom)``. The Bloom
    side's corpus dataflow is join-free (the 16 KiB filter rides the
    plan as a literal; membership is a codegen'd mask probe inside the
    scan stage; per-doc distinct shingles built row-locally) — at 100 TB
    that deletes the shingle-keyed shuffle of the exact form's
    candidate stream AND the benchmark-set movement. One-sided error is
    pinned structurally: ``n_hits_bloom ≥ n_hits_exact`` row by row
    (never a false negative), so the Bloom cut only ever drops extra —
    the safe direction. The oracle replays the bitmap build and probe
    arithmetic bit for bit."""
    from hadoop_tfidf_spark.functions.text import (
        bloom_bitmap,
        contamination_bloom,
        contamination_check,
    )

    docs = _docs(spark, sf_dir)
    cand = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    exact = contamination_check(cand, bench, k=3).select(
        "doc_id",
        "n_shingles",
        F.col("n_hits").alias("n_hits_exact"),
        (F.col("overlap_ratio") <= 0.1).cast("int").alias("keep_exact"),
    )
    bloom = contamination_bloom(cand, bloom_bitmap(bench, k=3)).select(
        "doc_id",
        F.col("n_hits").alias("n_hits_bloom"),
        (F.col("overlap_ratio") <= 0.1).cast("int").alias("keep_bloom"),
    )
    return exact.join(bloom, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hits_exact",
        "n_hits_bloom",
        (F.col("n_hits_bloom") - F.col("n_hits_exact"))
        .cast("bigint")
        .alias("n_false_pos"),
        "keep_exact",
        "keep_bloom",
    )
