"""Deterministic content-addressed sampling — the reproducible form of
corpus subsetting a training-data pipeline needs (train/test splits,
ablation subsets, QA samples).

``df.sample()``/``sampleBy()`` are seed-deterministic only for a fixed
partitioning — a repartition, AQE re-plan, or engine change reshuffles the
sample. Hashing the document KEY instead makes membership a pure function
of the data: stable across engines (md5-based, DuckDB-reproducible),
re-runs, partitionings, and incremental ingests (a doc's split never
changes when more data arrives — critical for contamination-free eval
splits). Pure projection + filter: no shuffle, pushed to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.hashing import hex_to_long, seeded_md5
from hadoop_tfidf_spark.operators.dedup import _kgrams


def hash_bucket_col(key: Column, buckets: int = 100, seed: int | str = 0) -> Column:
    """Stable bucket in ``[0, buckets)`` from any key column:
    ``md5("{seed}:{key}") → first 15 hex → mod buckets``."""
    return hex_to_long(seeded_md5(seed, key.cast("string"))) % F.lit(buckets)


def hash_sample(
    df: DataFrame, key: str, pct: int, seed: int | str = 0
) -> DataFrame:
    """Keep rows whose key hashes into the first ``pct`` of 100 buckets —
    a deterministic ~pct% sample."""
    return df.where(hash_bucket_col(F.col(key), 100, seed) < pct)


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    stratum: Column | str,
    rates: dict[str, int],
    seed: int | str = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its key's hash
    bucket is below the stratum's percentage (``rates[stratum]``; strata
    absent from ``rates`` are dropped). The content-addressed analogue of
    ``df.sampleBy`` — same membership on every engine/partitioning/rerun,
    and a doc's verdict never changes as other data arrives. The typical
    pretraining use: downsample the over-represented language/domain while
    keeping the rare stratum intact.

    Pure projection + filter (the stratum CASE and the md5 bucket are
    row-local); pushable to the scan like :func:`hash_sample`.
    """
    s = F.col(stratum) if isinstance(stratum, str) else stratum
    bucket = hash_bucket_col(F.col(key), 100, seed)
    rate = None
    for name in sorted(rates):
        cond = s == name
        rate = (
            F.when(cond, rates[name])
            if rate is None
            else rate.when(cond, rates[name])
        )
    rate = rate.otherwise(F.lit(0)) if rate is not None else F.lit(0)
    return df.where(bucket < rate)


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, int],
    seed: int | str = 0,
) -> DataFrame:
    """Label each row with a split name from cumulative bucket ranges,
    e.g. ``{"train": 90, "valid": 5, "test": 5}`` (must sum to 100).
    Returns the input plus a ``split`` column; membership is a pure
    function of the key, so later ingests never move earlier docs between
    splits."""
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must sum to 100: {splits}")
    bucket = hash_bucket_col(F.col(key), 100, seed)
    expr = None
    lo = 0
    for name, width in splits.items():
        cond = (bucket >= lo) & (bucket < lo + width)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += width
    return df.withColumn("split", expr)


def mixture_weights(
    docs: DataFrame,
    strata: list[str] | None = None,
    tokens: Column | None = None,
) -> DataFrame:
    """Data-mixture accounting for pretraining: per stratum (default
    ``(source, lang)``) document and token counts, the stratum's share of
    all corpus tokens, and the resampling weight that would flatten the
    mixture to UNIFORM across observed strata (``weight > 1`` ⇒ upsample
    the rare domain, ``< 1`` ⇒ downsample the dominant crawl — the
    mixture-reweighting step every corpus recipe starts from, cf. The Pile
    / Gopher per-source weights). Feed the weights to
    :func:`stratified_hash_sample` to materialize the resampled corpus.

    One hash aggregation keyed on the (low-cardinality) strata — partial
    aggregation means the shuffle carries one row per (partition, stratum),
    not per doc. The corpus totals come from an unpartitioned WINDOW over
    the strata-sized aggregation output (one task over tens of rows —
    benign), NOT from a separate totals-aggregate branch: the aggregation
    is a plan diamond and Spark recomputes diamonds, so the
    crossJoin(totals) form scanned the corpus twice. Output is
    strata-sized (tiny) regardless of corpus size; one corpus pass.
    ``tokens`` switches the budget unit from whitespace words to a
    precomputed count column (e.g. ``F.col("n_bpe_tokens")`` after a
    join with :func:`~hadoop_tfidf_spark.functions.text.bpe_token_counts`
    output) — mixture shares measured in the unit the training loader
    actually bills.
    """
    from pyspark.sql import Window

    strata = strata or ["source", "lang"]
    n_tokens = (
        tokens
        if tokens is not None
        else F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    )
    groups = (
        docs.groupBy(*strata)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(n_tokens).cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    total_tokens = F.sum("n_tokens").over(w).cast("bigint")
    n_strata = F.count("*").over(w).cast("bigint")
    return groups.select(
        *strata,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / total_tokens, 6).alias("token_share"),
        F.round(
            total_tokens / (n_strata * F.col("n_tokens")), 6
        ).alias("uniform_weight"),
    )


def temperature_rates(
    docs: DataFrame,
    tau: float = 0.5,
    budget_tokens: int = 10_000,
    strata: list[str] | None = None,
    tokens: Column | None = None,
) -> DataFrame:
    """Temperature-scaled mixture rates — the per-source sampling plan
    that turns a raw corpus into a τ-flattened training mixture (the
    Pile / Gopher / multilingual-T5 recipe: source share ∝ n_tokens^τ,
    τ<1 damps the dominant crawl and boosts rare domains; τ=1 keeps the
    natural mixture, τ=0 is uniform). Per stratum (default ``source``):

    - ``temp_share`` — ``n_s^τ / Σ n^τ``, the target share of the
      sampled corpus;
    - ``rate_pct``  — the integer percentage for
      :func:`stratified_hash_sample` that realizes ``budget_tokens ·
      temp_share`` expected tokens from the stratum, clamped to
      [0, 100] (a SAMPLER never upsamples: strata whose target exceeds
      their size saturate at 100 — re-run with a smaller budget or
      handle upsampling at the loader).

    Cross-engine exactness: ``n^τ`` is quantized to BIGINT micro-units
    (``round(pow(n, τ)·1e6)``) so the share denominator is an exact
    integer sum (order-free across strata); ``temp_share`` rounds the
    one integer division to 6; ``rate_pct`` is a single shared IEEE
    expression over those exact inputs. One strata-keyed aggregation +
    an unpartitioned window over the strata-sized output (the
    mixture_weights shape — never a crossJoin diamond).
    """
    from pyspark.sql import Window

    strata = strata or ["source"]
    n_tokens = (
        tokens
        if tokens is not None
        else F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    )
    groups = docs.groupBy(*strata).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("n_tokens"),
    )
    pt_u = F.round(F.pow(F.col("n_tokens"), F.lit(float(tau))) * 1_000_000)
    staged = groups.select(
        *strata, "n_docs", "n_tokens", pt_u.cast("bigint").alias("_pt_u")
    )
    w = Window.partitionBy(F.lit(1))
    tot_u = F.sum("_pt_u").over(w).cast("bigint")
    share = F.round(F.col("_pt_u") / tot_u, 6)
    # a stratum whose every doc has empty text carries n_tokens = 0:
    # the rate division would be NaN (an ANSI cast error downstream) —
    # there is nothing to sample there, so the rate is 0 by definition
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(
            F.lit(100),
            F.greatest(
                F.lit(0),
                F.floor(
                    F.lit(100.0) * F.lit(int(budget_tokens)) * share
                    / F.col("n_tokens")
                ),
            ),
        ),
    ).otherwise(F.lit(0))
    return staged.select(
        *strata,
        "n_docs",
        "n_tokens",
        share.alias("temp_share"),
        rate.cast("int").alias("rate_pct"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_buckets: int = 8,
    partition_by: list[str] | None = None,
    shuffle_seed: int | str | None = None,
    tokens: Column | None = None,
) -> DataFrame:
    """Deterministic sequence packing: assign each document to a training
    pack of ~``budget`` tokens. Docs are sharded into ``n_buckets`` by
    :func:`hash_bucket_col` over ``doc_id`` (md5-based — works for ANY id
    type; a ``doc_id % n_buckets`` formulation silently casts string ids
    to NULL under ANSI-off engines, landing the whole corpus in ONE null
    bucket and serializing it through a single window task, and throws
    CAST_INVALID_INPUT under Spark 4 ANSI), ordered by ``doc_id`` within
    the shard, and packed contiguously: a doc's pack is
    ``floor(tokens_before / budget)``
    of the running token count before it (a doc may straddle a boundary —
    the standard concat-then-chunk packing of GPT-style pretraining, where
    sequences are cut at exactly ``budget`` tokens regardless of doc
    edges). Output: ``(doc_id, bucket, pack_id, n_tokens,
    offset_in_pack)`` — all integers, bit-stable on any engine.

    Scale: packing is inherently sequential *within* a shard (each pack id
    depends on the running sum), so the operator parallelizes ACROSS
    shards — one window per bucket, each a sort + linear pass. At 100 TB
    raise ``n_buckets`` to ~the cluster's task count; real pipelines pack
    per output shard exactly like this because a single global order would
    serialize the whole corpus through one task. ``partition_by`` adds
    outer packing partitions ahead of the bucket — e.g. ``["split"]``
    packs each train/valid/test split independently (a doc never shares
    a pack with another split's doc), the layout a training loader
    actually consumes. ``shuffle_seed`` orders docs within each shard by
    ``md5("{seed}:{doc_id}")`` instead of ``doc_id`` — the deterministic
    global shuffle a training loader wants (every engine/partitioning/
    rerun packs the same order; change the seed to re-deal).
    ``tokens`` overrides the budget unit: by default docs are measured in
    whitespace words off ``text``, but a training pipeline budgets in
    TOKENIZER tokens — pass e.g. ``F.col("n_bpe_tokens")`` over
    :func:`~hadoop_tfidf_spark.functions.text.bpe_token_counts` output
    (then ``text`` need not be present at all).
    """
    n_tokens = (
        tokens
        if tokens is not None
        else F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    )
    from pyspark.sql import Window

    extra = list(partition_by or [])
    order = (
        [F.col("_ord"), F.col("doc_id")]
        if shuffle_seed is not None
        else [F.col("doc_id")]
    )
    w = (
        Window.partitionBy(*extra, "bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id",
            *extra,
            hash_bucket_col(F.col("doc_id"), n_buckets).cast("bigint").alias("bucket"),
            n_tokens.cast("bigint").alias("n_tokens"),
            *(
                [
                    hex_to_long(
                        seeded_md5(shuffle_seed, F.col("doc_id").cast("string"))
                    ).alias("_ord")
                ]
                if shuffle_seed is not None
                else []
            ),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
        )
        .select(
            "doc_id",
            *extra,
            "bucket",
            F.floor(F.col("cum_before") / budget).cast("bigint").alias("pack_id"),
            "n_tokens",
            (F.col("cum_before") % budget).cast("bigint").alias("offset_in_pack"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target: Column | None = None,
    n_buckets: int = 256,
    k_smooth: float = 0.5,
    seed: int | str = "dsir",
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    NeurIPS — the DSIR recipe): score every raw document by how much it
    looks like a TARGET distribution, using hashed word-bigram features.
    ``target`` is a boolean Column marking the in-corpus target slice
    (e.g. a trusted source); the weight of doc *d* is

        log w(d) = Σ_{f ∈ features(d)} [log10 p̂_target(f) − log10 p̂_raw(f)]

    with each distribution an add-``k_smooth``-smoothed multinomial over
    ``n_buckets`` hash buckets. High weight ⇒ the doc's n-gram profile
    matches the target domain; feed the ranking to a top-p cut or a
    Gumbel resample to materialize the selected corpus.

    Cross-engine exactness rides the :func:`~hadoop_tfidf_spark.functions
    .text.lm_score` pattern: per-bucket log-ratios are quantized to
    BIGINT micro-log units, so the per-doc aggregation is an
    order-insensitive integer sum; the final ``/1e6`` is one identical
    IEEE division on identical integers everywhere.

    Plan shape (two corpus scans, zero materialization): bigrams come
    from the zero-shuffle staged-array shingle expression with the
    target flag carried along — no join back to ``docs``; the feature
    subtree feeds (a) the bucket statistics — ONE hash aggregation over
    ``n_buckets`` keys (hash-uniform ⇒ no skew, partial aggs carry it) —
    and (b) the per-doc scoring join, so Spark recomputes it once per
    side (the :func:`~hadoop_tfidf_spark.functions.text.lm_score`
    tradeoff: re-scanning parquet beats shuffling or caching a
    corpus-sized explode). Totals ride an unpartitioned window over the
    bucket-sized output (NOT a crossJoin diamond); the scoring join
    broadcasts the ``n_buckets``-row ratio table. Output ``(doc_id,
    n_feats, dsir_logratio)``; docs with < 2 words carry NULL score.

    ``ratios`` short-circuits training: pass a table from
    :func:`dsir_ratios` (trained once, typically on a SAMPLE) and the
    call scores ``docs`` in ONE corpus scan — the production deployment
    shape (train on target-vs-raw sample, score the full 100 TB; the
    same table the streaming twin broadcasts). ``target`` is then
    unused and may be None. :func:`dsir_ratios` tables are DENSE (all
    ``n_buckets`` rows, unseen buckets at the smoothed prior), so a
    table trained on a sample still covers every bucket the full
    corpus can hash to — the scoring join never drops a feature.
    CONTRACT: ``n_buckets`` and ``seed`` must match the values the
    ratio table was trained with — the bucket id IS the feature space,
    and a mismatch silently mis-scores against the wrong bucket's
    ratio.
    """
    if ratios is None:
        if target is None:
            raise ValueError("dsir_importance: need target or ratios")
        ratios = dsir_ratios(docs, target, n_buckets, k_smooth, seed)
    scored = (
        dsir_feature_buckets(docs, n_buckets, seed)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.round(F.sum("lr_u") / F.lit(1_000_000.0), 6).alias(
                "dsir_logratio"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("bigint").alias(
                "n_feats"
            ),
            "dsir_logratio",
        )
    )


def dsir_feature_buckets(
    docs: DataFrame, n_buckets: int = 256, seed: int | str = "dsir"
) -> DataFrame:
    """The DSIR feature projection alone: ``(doc_id, bucket)`` — one
    hashed word-bigram feature row per adjacent pair, docs with < 2
    words dropped. Row-local (staged-array shingles + md5 bucket), so
    it applies unchanged to a STREAMING relation (stateless)."""
    words = F.split(F.col("text"), " ")
    staged = docs.select("doc_id", words.alias("_w")).where(
        F.size("_w") >= 2
    )
    grams = _kgrams(F.col("_w"), 2)
    return staged.select("doc_id", F.explode(grams).alias("bg")).select(
        "doc_id", hash_bucket_col(F.col("bg"), n_buckets, seed).alias("bucket")
    )


def dsir_ratios(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 256,
    k_smooth: float = 0.5,
    seed: int | str = "dsir",
) -> DataFrame:
    """The trained half of DSIR: per-bucket BIGINT micro-log ratios
    ``(bucket, lr_u)`` from one hash aggregation over the corpus (the
    target flag rides the feature rows; totals via an unpartitioned
    window over the bucket-sized output). This is the shippable "model"
    — ``n_buckets`` rows that any batch OR streaming scorer broadcasts.

    DENSE by contract: ALL ``n_buckets`` rows are emitted — buckets the
    training corpus never produced carry the smoothed prior
    ``log10(k/(n_t_tot+kb)) − log10(k/(n_raw_tot+kb))`` (counts 0 under
    add-k smoothing). This is what makes the train-on-a-SAMPLE /
    score-the-full-corpus deployment correct: a scoring join against
    this table can never silently drop a feature whose bucket the
    sample missed (it gets the prior, exactly as the inline-trained
    path would give it), so ``n_feats`` and the score stay unbiased.
    The zero-count rows do not move the window totals (they add 0)."""
    from pyspark.sql import Window

    words = F.split(F.col("text"), " ")
    staged = docs.select(
        "doc_id", target.cast("boolean").alias("_t"), words.alias("_w")
    ).where(F.size("_w") >= 2)
    grams = _kgrams(F.col("_w"), 2)
    feats = staged.select(
        "doc_id",
        "_t",
        F.explode(grams).alias("bg"),
    ).select(
        "_t",
        hash_bucket_col(F.col("bg"), n_buckets, seed).alias("bucket"),
    )
    seen = feats.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.sum(F.col("_t").cast("long")).cast("bigint").alias("n_t"),
    )
    spine = docs.sparkSession.range(int(n_buckets)).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    per_bucket = spine.join(seen, "bucket", "left").select(
        "bucket",
        F.coalesce("n_raw", F.lit(0)).cast("bigint").alias("n_raw"),
        F.coalesce("n_t", F.lit(0)).cast("bigint").alias("n_t"),
    )
    w = Window.partitionBy(F.lit(1))
    n_raw_tot = F.sum("n_raw").over(w)
    n_t_tot = F.sum("n_t").over(w)
    kb = F.lit(float(k_smooth) * n_buckets)
    lr_u = F.round(
        (
            F.log10((F.col("n_t") + F.lit(k_smooth)) / (n_t_tot + kb))
            - F.log10((F.col("n_raw") + F.lit(k_smooth)) / (n_raw_tot + kb))
        )
        * F.lit(1_000_000)
    ).cast("bigint")
    return per_bucket.select("bucket", lr_u.alias("lr_u"))


def dsir_select(
    imp: DataFrame, top_n: int, exclude_target: Column | None = None
) -> DataFrame:
    """The selection step on top of :func:`dsir_importance`: keep the
    ``top_n`` raw documents whose n-gram profile best matches the target
    (logratio desc, doc_id tiebreak ⇒ fully deterministic cut). DSIR
    proper perturbs with Gumbel noise before the cut — a seeded hash
    column does that reproducibly if diversity matters more than purity.
    ``TakeOrderedAndProject`` — per-partition top-``top_n`` heaps, never
    a global sort."""
    out = imp.where(F.col("dsir_logratio").isNotNull())
    if exclude_target is not None:
        out = out.where(~exclude_target)
    return out.orderBy(F.desc("dsir_logratio"), "doc_id").limit(top_n)
