"""Deduplication operators for pre-training-corpus curation: exact
(hash-groupBy), MinHash + LSH banding, SimHash, and n-gram Jaccard
verification. The reference engine has no dedup at all (SURVEY.md §2 gap
table) — this is north-star engine surface.

Every hash is md5-based (:mod:`hadoop_tfidf_spark.functions.hashing`) so the
DuckDB oracle reproduces each operator bit-for-bit; everything is built-in
Catalyst expressions — codegen'd, no Python in the data path.

Scale design (100 TB):

* exact dedup — one hash aggregation on ``md5(text)``; partial aggregation
  collapses per-partition duplicates before the shuffle, and the shuffle key
  (a hash) is uniformly distributed — no skew.
* MinHash/LSH — the classic banded similarity join: signatures are a
  map-side explode + per-(doc, hash-seed) min aggregation; candidate
  generation is an equi-join on (band, band_key), i.e. a *bucket* join whose
  fan-out is bounded by real near-duplicate cluster sizes, never the O(n²)
  cross join. Skewed buckets (boilerplate docs) are AQE-split. Where only
  the drop set is needed (curation), one window per bucket replaces the
  pairs (``lsh_bucket_drops``): linear in bucket size.
* SimHash — 64→32-bit signature; candidate pairs via the pigeonhole band
  trick (hamming ≤ 3 ⇒ some 8-bit band equal), again an equi-join.
* Jaccard verify — exact intersection counts only over LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.hashing import hex_to_long

#: The MinHash geometry, fixed: 12 hash functions (one per entry of
#: ``MINHASH_A`` / ``MINHASH_B``) in 4 bands × 3 rows — the LSH s-curve
#: crosses ~ (1/4)^(1/3) ≈ 0.63 Jaccard. The DuckDB oracles build their SQL
#: from these two names.
DEFAULT_NUM_HASHES = 12
DEFAULT_ROWS_PER_BAND = 3

#: Carter–Wegman universal-hash family for MinHash: each seed h maps the
#: shingle's base hash x to ``(A[h]·x + B[h]) mod M31``. One md5 per shingle
#: (the base) instead of one per (shingle, seed); the 12 derived hashes are
#: two integer ops each, and signatures shuffle as BIGINTs, not 32-char hex
#: strings. M31 = 2³¹−1 keeps every product < 2⁶² — overflow-free in both
#: Spark (Java long) and DuckDB (BIGINT, which *errors* on overflow).
M31 = (1 << 31) - 1
MINHASH_A = [
    1000000007, 998244353, 754974721, 167772161, 469762049, 1073741789,
    2147483587, 1999999973, 1299709, 15485863, 32452843, 49979687,
]
MINHASH_B = [
    15485867, 49979693, 86028121, 122949823, 141650939, 160481183,
    179424673, 198491317, 217645177, 236887691, 256203161, 275604541,
]
#: Polynomial combine constant for band keys: band_key =
#: ((mh₀·K + mh₁) mod M31 · K + mh₂) mod M31 — pure integer math, no
#: md5-of-concat string round-trip.
BAND_KEY_K = 1000003


def _words(text: Column) -> Column:
    """The whitespace word array ``split(text, ' ')`` — THE word split of
    the engine. Runs of spaces leave empty strings in it; see
    :func:`_nonempty_words`."""
    return F.split(text, " ")


def _nonempty_words(text: Column) -> Column:
    """:func:`_words` without its empty strings."""
    return F.filter(_words(text), lambda x: x != "")


def _kgrams(words: Column, k: int) -> Column:
    """Every word ``k``-gram of a STAGED word array, joined by single
    spaces, in order — THE shingle expression of the engine (MinHash,
    Bloom, fingerprints, DSIR bigrams). ``words`` must be a column bound
    by an earlier projection, never an inline ``split``: the lambda
    re-evaluates its inlined subtree per element (see :func:`shingles`).
    """
    return F.transform(
        F.sequence(F.lit(1), F.size(words) - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )


def _md5_base(g: Column) -> Column:
    """A shingle's base hash ``md5(g)[:15 hex] mod M31`` — the one md5
    per shingle the Carter–Wegman MinHash and Bloom positions derive
    from."""
    return hex_to_long(F.md5(g)) % F.lit(M31)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns ``(text_hash, keep_doc_id, dup_count)`` — one row per distinct
    text; ``keep_doc_id`` is the canonical survivor (minimum id).
    """
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").cast("bigint").alias("dup_count"),
    )


def exact_dedup_apply(docs: DataFrame) -> DataFrame:
    """Corpus with exact duplicates removed (keep min doc_id per text)."""
    keep = exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Word ``k``-gram shingles with positions: ``(doc_id, pos, shingle)``,
    ``pos`` 1-based. Narrow transformation (split + transform + posexplode)
    — no shuffle; docs shorter than ``k`` words produce no rows.

    The word array is STAGED through its own projection before the
    per-shingle ``transform``: a lambda that closes over the inline
    ``split(text)`` expression re-evaluates the full split once PER
    ELEMENT (higher-order lambdas re-run their inlined subtrees each
    invocation), making shingle construction O(words²) per document — a
    200k-word outlier page would pin one task for ~4·10¹⁰ token reads.
    Binding the array to a ``_w`` column first costs one extra narrow
    Project (CollapseProject deliberately keeps multi-referenced
    non-cheap aliases staged) and makes every span/shingle builder in
    the engine LINEAR in doc length (measured: a 100k-word doc went from
    never-finishing to 0.4 s).
    """
    words = _words(F.col("text"))
    staged = docs.where(F.size(words) >= k).select("doc_id", words.alias("_w"))
    return (
        staged.select(
            "doc_id", F.posexplode(_kgrams(F.col("_w"), k)).alias("pos0", "shingle")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "shingle")
    )


def minhash_signatures(shingle_df: DataFrame) -> DataFrame:
    """MinHash signatures in columnar form: one row per doc,
    ``(doc_id, mh_0 … mh_11 BIGINT)``.

    One aggregation keyed on doc_id with ``DEFAULT_NUM_HASHES``
    independent ``min((a·x + b) mod M31)`` columns over the shingle's base
    hash ``x = md5(shingle)[:15 hex] mod M31`` — ONE md5 per shingle total,
    the rest is integer arithmetic. No seed explode (shuffle moves |docs|
    rows of 12 BIGINTs) and **no pre-distinct**: min() is invariant
    under duplicate shingles, so the distinct's full extra shuffle of the
    shingle stream is dropped; partial aggregation collapses duplicates
    map-side for free.
    """
    base = _md5_base(F.col("shingle"))
    mins = [
        F.min((F.lit(MINHASH_A[h]) * F.col("_base") + F.lit(MINHASH_B[h])) % F.lit(M31)).alias(
            f"mh_{h}"
        )
        for h in range(DEFAULT_NUM_HASHES)
    ]
    return (
        shingle_df.select("doc_id", base.alias("_base"))
        .groupBy("doc_id")
        .agg(*mins)
    )


def minhash_signatures_from_docs(docs: DataFrame, k: int = 3) -> DataFrame:
    """MinHash signatures computed row-locally — ZERO shuffle.

    Same output as ``shingles → minhash_signatures`` (min() over the
    shingle multiset is duplicate-invariant and all shingles of a doc live
    in its own row), but the whole computation is higher-order array
    expressions inside the scan stage: split → k-gram transform → md5
    base per gram → ``array_min`` per hash seed. No posexplode of the
    shingle stream, no hash aggregation, no exchange — the scan
    partitioning is preserved. Docs with fewer than ``k`` words produce no
    row (same as the shingle path).

    Use when attaching signatures as document metadata or inside
    streaming/incremental flows where every shuffle is a stateful barrier.
    Two caveats versus the aggregate path (why it is NOT the LSH-pipeline
    default): higher-order lambdas evaluate interpreted (outside
    whole-stage codegen), and a forked downstream plan (e.g. the LSH
    self-join) re-scans the corpus because there is no Exchange for
    ReuseExchange to collapse — persist, or add an explicit repartition,
    before forking.
    """
    words = _words(F.col("text"))
    staged = docs.where(F.size(words) >= k).select("doc_id", words.alias("_w"))
    return _sign_words(staged, k)


def _sign_words(rel: DataFrame, k: int = 3) -> DataFrame:
    """Sign each row of a relation that holds a staged ``_w`` word array:
    ``_w`` is replaced by ``mh_0 … mh_11``, every other column rides
    through. THE row-local signing chain — k-gram → md5 base → per-seed
    ``array_min`` — that :func:`minhash_signatures_from_docs`,
    :func:`sign_generation` and ``pipeline.curate_corpus`` share, so the
    hash formula cannot drift between the LSH paths and the stored
    ledger. Rows under ``k`` words get NULL signatures (a NULL, not
    empty, base array propagates into every ``mh_*``).

    Two projections: the base array is bound by the first, so the 12
    per-seed lambdas read it instead of re-hashing the grams, and the
    k-gram lambda reads the staged ``_w`` instead of re-splitting the
    text per element (the O(words²) trap — see :func:`shingles`)."""
    cols = [c for c in rel.columns if c != "_w"]
    bases = F.when(
        F.size("_w") >= k, F.transform(_kgrams(F.col("_w"), k), _md5_base)
    )
    sigs = [
        F.array_min(
            F.transform(
                F.col("_bases"),
                lambda b: (F.lit(MINHASH_A[h]) * b + F.lit(MINHASH_B[h])) % F.lit(M31),
            )
        ).alias(f"mh_{h}")
        for h in range(DEFAULT_NUM_HASHES)
    ]
    return rel.select(*cols, bases.alias("_bases")).select(*cols, *sigs)


def lsh_bands(signatures: DataFrame) -> DataFrame:
    """LSH band keys ``(doc_id, band, band_key BIGINT)`` from columnar
    signatures ``mh_0 … mh_11``.

    band_key = polynomial combine of the band's minhashes
    (``((mh₀·K + mh₁) mod M31 · K + mh₂) mod M31``) — integer math that
    joins on 8-byte keys instead of md5 hex strings. A narrow projection +
    explode of 4 band structs per doc — no extra aggregation or sort. A
    NULL signature (a doc under k words) gives NULL band keys, which no
    equi-join matches.
    """
    r = DEFAULT_ROWS_PER_BAND

    def _key(b: int):
        expr = F.col(f"mh_{b * r}")
        for i in range(1, r):
            expr = (expr * F.lit(BAND_KEY_K) + F.col(f"mh_{b * r + i}")) % F.lit(M31)
        return expr

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _key(b).alias("band_key"))
            for b in range(DEFAULT_NUM_HASHES // r)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def _bucketed(bands: DataFrame) -> DataFrame:
    """Bands rows with their bucket's size ``_bs`` and lowest id ``_min``:
    one window over ``(band, band_key)`` (Catalyst prunes whichever of the
    two a caller never reads). A NULL key (a doc under k words) is no
    bucket, so those rows go before the window would group them."""
    w = Window.partitionBy("band", "band_key")
    return bands.where(F.col("band_key").isNotNull()).select(
        *bands.columns,
        F.count("*").over(w).alias("_bs"),
        F.min("doc_id").over(w).alias("_min"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any (band, band_key)
    bucket. Equi-join on the bucket key — never a cross join. Returns
    distinct ``(doc_a, doc_b)`` with ``doc_a < doc_b``.

    ``max_bucket_size`` is the 100 TB safety valve: a boilerplate template
    shared by millions of docs puts them all in one bucket, and the
    self-join squares it. Capping drops buckets above the threshold (their
    members still pair through their OTHER bands unless equally megahot —
    the standard recall-for-survival trade; log what was dropped and
    handle megaclusters with exact dedup first). Cap detection is the
    bucket-size window of :func:`_bucketed`, whose exchange on the bucket
    key both sides of the self-join read, so the input is scanned once.
    """
    if max_bucket_size is not None:
        bands = _bucketed(bands).where(F.col("_bs") <= max_bucket_size)
    a = bands.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    b = bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_bucket_drops(
    bands: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """``doc_id`` of every doc that shares some (band, band_key) bucket
    holding ``≤ max_bucket_size`` rows (any size when uncapped) with a
    lower ``doc_id``: the ``doc_b`` set of :func:`lsh_candidate_pairs`
    with the same cap, i.e. the 1-hop min-id drop rule, from one window
    (:func:`_bucketed`) and no pair relation. A megabucket is one window
    partition, sorted in linear, spillable work, where the pair self-join
    emits the square of its size. An id repeats once per bucket it drops
    in; anti-join against it rather than ``distinct`` it.
    """
    drop = F.col("_min") < F.col("doc_id")
    if max_bucket_size is not None:
        drop = drop & (F.col("_bs") <= max_bucket_size)
    return _bucketed(bands).where(drop).select("doc_id")


def minhash_lsh_dedup(
    docs: DataFrame,
    k: int = 3,
    shingle_df: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    join. Returns candidate pairs ``(doc_a, doc_b)``.

    Uses the aggregate signature path: its signature Exchange sits below
    the self-join's rename fork, so ReuseExchange computes signatures ONCE
    and the corpus is scanned once (measured faster than the zero-shuffle
    :func:`minhash_signatures_from_docs`, whose fork would re-scan, and
    whole-stage codegen compiles the per-shingle md5 that higher-order
    array lambdas evaluate interpreted).
    """
    sh = shingle_df if shingle_df is not None else shingles(docs, k=k)
    return lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh)),
        max_bucket_size=max_bucket_size,
    )


def fuzzy_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    max_dist: int | None = None,
) -> DataFrame:
    """Edit-distance verification of near-dup candidate pairs: annotate
    each LSH candidate pair with the Levenshtein distance between the two
    texts (optionally keep only pairs within ``max_dist``) — fuzzy string
    matching as candidate-then-verify, the same shape as
    :func:`ngram_jaccard` with a different metric.

    Scale shape: Levenshtein is O(len²) per pair, so it NEVER runs
    all-pairs — only over the LSH candidate set (bounded by bucket
    collisions). The distance is the JVM built-in ``levenshtein``
    expression (codegen, no Python). When ``max_dist`` is given, the
    3-arg ``levenshtein(l, r, threshold)`` form is used: the JVM kernel
    exits as soon as the running distance exceeds the threshold (banded
    DP, O(len·max_dist) instead of O(len²)) and returns −1, which the
    filter drops — same surviving pairs and distances as filtering the
    unbounded distance, but two long near-dup documents no longer cost a
    full quadratic table on one task. Returns
    ``(doc_a, doc_b, edit_dist BIGINT)``.
    """
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    dist = (
        F.levenshtein("_ta", "_tb")
        if max_dist is None
        else F.levenshtein("_ta", "_tb", int(max_dist))
    )
    out = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("bigint").alias("edit_dist"),
        )
    )
    if max_dist is not None:
        # threshold form returns -1 for pairs beyond max_dist
        out = out.where(F.col("edit_dist") >= 0)
    return out


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    threshold: float = 0.0,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for the given candidate pairs.

    ``jaccard = |A ∩ B| / |A ∪ B|`` over distinct word ``k``-grams. Computed
    only for ``pairs`` (the LSH output) — the standard candidate-then-verify
    shape that avoids O(n²) at scale. Returns
    ``(doc_a, doc_b, n_common, n_a, n_b, jaccard)``.

    ``shingle_df`` lets the caller share one (ideally persisted) distinct
    shingle relation across the LSH and verify stages — it feeds four plan
    branches (sizes, both join sides, and MinHash upstream), and Spark
    recomputes a subtree shared by several branches.
    """
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles(docs, k=k).select("doc_id", "shingle").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    out = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )
    if threshold > 0.0:
        out = out.where(F.col("jaccard") >= threshold)
    return out


def near_dup_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-duplicate canonicalization: map every doc to its cluster
    representative — the min doc_id among its LSH candidate neighbors and
    itself (1-hop star clustering over the ``(doc_a, doc_b)`` pair list,
    ``doc_a < doc_b``).

    This is the "apply" step after candidate generation: docs whose
    ``canonical_id`` ≠ ``doc_id`` are the drop set. One left join + one
    aggregation, both keyed on doc_id. 1-hop is the standard first-pass
    contraction and is exact when clusters are cliques (near-dup clusters
    from banded LSH overwhelmingly are).

    **Not a fixpoint under chains**: with pairs (a,b) and (b,c) but not
    (a,c), c maps to b while b maps to a — c's canonical_id is itself a
    dropped doc. Callers that need survivor-valid representatives (every
    canonical_id maps to itself) should use ``near_dup_components``, the
    iterative transitive closure.
    """
    nbrs = pairs.select(F.col("doc_b").alias("doc_id"), "doc_a")
    return (
        docs.select("doc_id")
        .join(nbrs, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.min("doc_a").alias("_min_nbr"))
        .select(
            "doc_id",
            F.coalesce(F.col("_min_nbr"), F.col("doc_id")).alias("canonical_id"),
        )
    )


def near_dup_components(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Transitive-closure canonicalization: map every doc to the minimum
    doc_id in its *connected component* of the candidate-pair graph —
    the fixpoint ``near_dup_canonical`` is not (chains a-b, b-c resolve
    to a for all three). Every emitted ``canonical_id`` maps to itself,
    so it is always a surviving representative.

    Algorithm: iterative min-label propagation — each round every doc
    takes ``min(own label, neighbors' labels)``; converges in
    O(component diameter) rounds. Near-dup components are shallow (LSH
    bands connect most members directly), so 2–4 rounds is typical.
    Each round is one shuffle join keyed on doc_id over the pair list
    (|pairs| rows, not |docs|²); ``localCheckpoint`` truncates lineage
    so plans don't grow exponentially with rounds. At extreme graph
    scale the round count can be driven to O(log d) with the
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the per-round
    dataflow here is the same join+min-aggregate shape.

    Raises after ``max_iter`` rounds without convergence rather than
    returning silently-partial clusters.
    """
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = docs.select("doc_id", F.col("doc_id").alias("canonical_id"))
    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(
                F.col("doc_id").alias("v"), F.col("canonical_id").alias("nbr_label")
            ),
            "v",
        ).select(F.col("u").alias("doc_id"), F.col("nbr_label").alias("canonical_id"))
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("canonical_id").alias("canonical_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.canonical_id") != F.col("o.canonical_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"near_dup_components did not converge in {max_iter} rounds"
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-document SimHash signature (Charikar'02 / Manku et al. WWW'07)
    with term-frequency weights: ``(doc_id, simhash BIGINT)``.

    Each distinct word's md5 is reduced to a 60-bit value once (vocabulary
    is tiny vs. the corpus), joined back, then each of the ``bits`` bit
    positions contributes ``±n`` per (doc, word); the signature bit is the
    sign of the sum. All integer/bit arithmetic exists in both Spark and
    DuckDB, so the oracle is exact.
    """
    tokens = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    dwc = tokens.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    # Word hash computed INLINE per (doc, word) row — one md5 more per row
    # than hashing the distinct vocabulary once, but that variant costs a
    # distinct-aggregation shuffle plus a broadcast whose size is the
    # vocabulary (unbounded at web scale — a 100 M-word vocab doesn't
    # broadcast). Inline md5 is map-side, embarrassingly parallel, and
    # keeps the pipeline at two total shuffles with no broadcast risk.
    #
    # Columnar bit sums: one aggregation keyed on doc_id with `bits` sum
    # columns — the shuffle moves |docs| rows × bits values instead of the
    # row-per-bit explode's |dwc| × bits rows (same argument as the
    # columnar MinHash signatures). Shift amounts are literals, so the
    # whole thing stays in codegen.
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(shiftrightunsigned(wh, {j}) & 1) = 1"), F.col("n"))
            .otherwise(-F.col("n"))
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    per_doc = (
        dwc.withColumn("wh", hex_to_long(F.md5("word")))
        .groupBy("doc_id")
        .agg(*bit_sums)
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    simhash_df: DataFrame, max_hamming: int = 3, band_bits: int = 8, bits: int = 32
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: with 32 bits in four 8-bit bands, hamming ≤ 3
    implies at least one band is identical — so candidates come from an
    equi-join on (band index, band value), then the exact
    ``bit_count(xor)`` filter. Returns ``(doc_a, doc_b, hamming)``.
    """
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands = simhash_df.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band"),
    ).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(f"shiftrightunsigned(simhash, band * {band_bits}) & {mask}").alias(
            "band_val"
        ),
    )
    a = bands.select("band", "band_val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = bands.select("band", "band_val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["band", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dedup(
    docs: DataFrame, span_words: int = 5, stride: int | None = None
) -> DataFrame:
    """Corpus-wide duplicated-SPAN removal — the span-granularity form of
    exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": repeated passages, boilerplate and
    licence blocks recur VERBATIM across crawled pages even when whole
    documents differ). The reference engine has no dedup at all
    (SURVEY.md §2 gap table).

    Semantics: each document's non-empty whitespace tokens are cut into
    consecutive spans of ``span_words`` words (stride = width; the final
    span may be shorter). A span is *duplicated* iff its exact text occurs
    in ≥ 2 distinct documents. Output, one row per input document::

        (doc_id, n_spans, n_dup_spans, clean_text)

    where ``clean_text`` is the document with every duplicated span
    removed (surviving spans re-joined in order; empty string when all
    spans were duplicated).

    ``stride`` (< ``span_words``) switches to SLIDING spans — the closer
    approximation of Lee et al.'s arbitrary-boundary exact-substring
    match (a duplicated passage is caught even when it starts mid-span of
    the fixed tiling; stride 1 = every word boundary). Overlapping spans
    can't be re-joined disjointly, so removal becomes word-granular: a
    WORD is dropped iff any duplicated span covers it, and ``clean_text``
    re-joins the surviving words (see :func:`_span_dedup_sliding` for the
    plan shape — still 2 row-local span passes + 1 equi-join).

    Scale (100 TB): span construction is ROW-LOCAL (``sequence`` +
    ``slice`` higher-order expressions fused into the scan — same shape as
    :func:`~hadoop_tfidf_spark.functions.text.fingerprint`) and runs
    exactly ONCE: spans explode to ``(doc_id, chunk_idx, md5(span))``
    and a single ``md5(span)``-partitioned WINDOW tags each row as
    duplicated (``min(doc_id) != max(doc_id)`` over the hash partition
    IS the ≥2-distinct-docs test — fixed 32-char key, uniformly
    distributed, no skew). That replaces the former count-distinct
    aggregation + dup-set equi-join, whose probe side re-derived the
    whole explode subtree (persisting it instead would materialize a
    corpus-sized relation): the window's one hash exchange carries the
    same integer rows the join's SMJ left side already shuffled, and
    the agg exchange + second span pass disappear. Because tiled spans
    are DISJOINT, reassembly never moves span text: the ``doc_id``-keyed
    aggregation collects only counts plus the duplicated chunk INDICES
    (integers, bounded by dup density), and ``clean_text`` is rebuilt
    row-locally after one ``doc_id`` equi-join to the input (word *i*
    belongs to exactly chunk ``⌊i/span_words⌋``; membership tests
    against the small dup-index array, with a clean-doc fast path).
    1 window exchange + 1 shuffled aggregation + 1 equi-join total —
    never all-pairs, and NO span text crosses any shuffle (window and
    aggregation both carry ints only). Zero-span docs fall out of the
    left join with zero counts.
    """
    if stride is not None and stride != span_words:
        if not 1 <= stride < span_words:
            raise ValueError(f"stride must be in [1, span_words): {stride}")
        return _span_dedup_sliding(docs, span_words, stride)
    words = _nonempty_words(F.col("text"))
    # words staged to a column so the per-span lambda doesn't re-split the
    # doc per element (the O(words²) trap — see shingles())
    staged = docs.where(F.size(words) > 0).select("doc_id", words.alias("_w"))
    spans_col = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_w"), F.lit(1)), F.lit(span_words)),
        lambda s: F.array_join(F.slice(F.col("_w"), s, span_words), " "),
    )
    exploded = staged.select(
        "doc_id", F.posexplode(spans_col).alias("chunk_idx", "span")
    ).select("doc_id", "chunk_idx", F.md5(F.col("span")).alias("h"))
    # "occurs in >=2 distinct documents" needs no count-distinct agg +
    # join back: one span-hash window tags every row in place
    # (min(doc_id) != max(doc_id) over the h-partition IS the >=2
    # distinct-doc test). This halves the span-construction work (the
    # former dup-set equi-join re-derived the whole explode subtree for
    # its probe side) and drops the dup-agg exchange — the window's one
    # h-exchange carries the same (doc_id, chunk_idx, h) integer rows
    # the join's SMJ left side already shuffled.
    hw = Window.partitionBy("h")
    tagged = exploded.select(
        "doc_id",
        "chunk_idx",
        (F.min("doc_id").over(hw) != F.max("doc_id").over(hw))
        .cast("int")
        .alias("is_dup"),
    )
    # Tiled spans are DISJOINT, so reassembly needs no span text at all:
    # collect only the duplicated chunk indices (integers, bounded by dup
    # density) and rebuild clean_text row-locally from the re-staged word
    # array — word i belongs to exactly chunk floor(i / span_words).
    # Span text therefore never crosses a shuffle: the h-join carries
    # (doc_id, chunk_idx) ints and the doc_id aggregation carries ints,
    # where the former collect_list(struct(idx, flag, span)) reassembly
    # shuffled every span's text (a corpus-sized agg payload) twice.
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("is_dup").cast("bigint").alias("n_dup_spans"),
        F.sort_array(
            F.collect_list(F.when(F.col("is_dup") == 1, F.col("chunk_idx")))
        ).alias("_dup_chunks"),
    )
    base = docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias(
            "n_dup_spans"
        ),
        F.coalesce(words, F.array().cast("array<string>")).alias("_w"),
        F.coalesce(F.col("_dup_chunks"), F.array().cast("array<int>")).alias(
            "_dc"
        ),
    )
    # membership is a linear scan of the (small) dup-chunk array; the
    # size guard is the common-case fast path — clean docs skip it and
    # the double reference keeps `_dc`/`_w` as staged attributes
    kept_words = F.filter(
        F.col("_w"),
        lambda w, i: ~F.array_contains(
            F.col("_dc"), F.floor(i / F.lit(span_words)).cast("int")
        ),
    )
    clean_text = F.when(
        F.size("_dc") == 0, F.array_join(F.col("_w"), " ")
    ).otherwise(F.array_join(kept_words, " "))
    return base.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.coalesce(clean_text, F.lit("")).alias("clean_text"),
    )


def _span_dedup_sliding(
    docs: DataFrame, span_words: int, stride: int
) -> DataFrame:
    """Sliding-span exact dedup (the ``stride < span_words`` path of
    :func:`span_dedup`): spans of ``span_words`` words start every
    ``stride`` words (full-width only — starts run to
    ``len − span_words + 1``; a doc shorter than ``span_words`` is one
    short span). A span is duplicated iff its exact text occurs in ≥ 2
    distinct documents; a WORD is removed iff covered by any duplicated
    span. Output: ``(doc_id, n_spans, n_dup_spans, clean_text)``.

    Plan shape matches the fixed-stride path: ONE row-local span pass
    (spans explode to ``(doc_id, start, md5(span))``), one span-hash
    WINDOW that tags duplication in place (``min(doc_id) !=
    max(doc_id)`` over the hash partition = the ≥2-distinct-docs test;
    integer rows only), then one doc_id-keyed aggregation that collects
    only the DUPLICATED span start offsets (integers, bounded by dup
    density, never whole spans) and one doc_id equi-join to the input
    for the word-coverage filter, zero extra shuffle.

    The coverage filter is INTERVAL-MERGED: the sorted dup starts are
    first collapsed row-locally into disjoint ``[lo, hi]`` dup REGIONS
    (a start opens a new region iff its gap to the previous start
    exceeds ``span_words`` — equal-width sorted intervals, so the union
    of a run is contiguous; merging the adjacent gap == span_words case
    is coverage-equivalent), then each word tests membership against
    the regions. Per-word cost is O(regions), and regions are bounded
    by the number of clean↔duplicated ALTERNATIONS in the doc — NOT by
    words/stride — so a page that is entirely duplicated boilerplate is
    ONE region and the filter is linear in doc length (the former
    per-start ``exists`` was O(words²/stride) on exactly that page; see
    tests/test_round8_ops.py for the planted all-duplicate giant page).
    Region construction itself is two linear indexed-lambda passes over
    the start array (O(1) ``get`` lookups, no fold-with-array-copy).
    """
    words = _nonempty_words(F.col("text"))
    # words staged to a column so the per-span lambda doesn't re-split the
    # doc per element (the O(words²) trap — see shingles())
    staged = docs.where(F.size(words) > 0).select("doc_id", words.alias("_w"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_w") - F.lit(span_words - 1), F.lit(1)),
        F.lit(stride),
    )
    span_structs = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("s"),
            F.array_join(F.slice(F.col("_w"), s, span_words), " ").alias("span"),
        ),
    )
    exploded = (
        staged.select("doc_id", F.explode(span_structs).alias("sp"))
        .select("doc_id", F.col("sp.s").alias("s"), F.md5("sp.span").alias("h"))
    )
    # same single-pass window tag as the fixed-stride path: >=2 distinct
    # docs iff min != max doc_id over the span-hash partition
    hw = Window.partitionBy("h")
    tagged = exploded.select(
        "doc_id",
        "s",
        (F.min("doc_id").over(hw) != F.max("doc_id").over(hw))
        .cast("int")
        .alias("is_dup"),
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("is_dup").cast("bigint").alias("n_dup_spans"),
        F.sort_array(
            F.collect_list(F.when(F.col("is_dup") == 1, F.col("s")))
        ).alias("_dup_starts"),
    )
    base = docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias(
            "n_dup_spans"
        ),
        words.alias("_w"),
        F.coalesce(F.col("_dup_starts"), F.array().cast("array<int>")).alias(
            "_ds"
        ),
    )
    # Merge sorted equal-width dup intervals [s, s+span-1] into disjoint
    # regions: a start opens a region iff gap to the previous start
    # > span_words (F.get is 0-based and NULL out-of-range, so the
    # first/last elements fall through coalesce to True). Two linear
    # passes; no aggregate-fold (appending to an accumulator array
    # copies it per element — O(starts·regions)).
    ds = F.col("_ds")
    region_los = F.filter(
        ds,
        lambda s, i: F.coalesce(
            (s - F.get(ds, i - 1)) > span_words, F.lit(True)
        ),
    )
    region_ends = F.filter(
        ds,
        lambda s, i: F.coalesce(
            (F.get(ds, i + 1) - s) > span_words, F.lit(True)
        ),
    )
    regions = F.zip_with(
        region_los,
        region_ends,
        lambda lo, e: F.struct(
            lo.alias("lo"), (e + F.lit(span_words - 1)).alias("hi")
        ),
    )
    staged_regions = base.select(
        "doc_id", "n_spans", "n_dup_spans", "_w", regions.alias("_regions")
    )
    kept_words = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(
            F.col("_regions"),
            lambda r: (r["lo"] <= i + 1) & ((i + 1) <= r["hi"]),
        ),
    )
    # `_regions` is referenced twice below (size guard + per-word exists)
    # so CollapseProject keeps the non-cheap alias staged — inlined into
    # the per-word lambda it would re-build the region array once PER
    # WORD (the O(words·starts) trap this rewrite removes). The guard is
    # also the common-case fast path: clean docs skip the scan entirely.
    clean_text = F.when(
        F.size("_regions") == 0, F.array_join(F.col("_w"), " ")
    ).otherwise(F.array_join(kept_words, " "))
    return staged_regions.select(
        "doc_id", "n_spans", "n_dup_spans", clean_text.alias("clean_text")
    )


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Content-addressed corpus diff for incremental ingest auditing:
    full-outer join the two generations on ``doc_id`` and classify every
    doc as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    ``md5(text)`` comparison. The ingest ledger a training-data pipeline
    keeps between crawls — what entered, what left, what silently mutated
    (a changed doc invalidates its dedup signatures, eval-split
    membership, and cached features downstream).

    Scale: one doc_id-keyed full-outer join (high-cardinality uniform
    key); md5 computed in the scan projection so only 32-char hashes and
    ids cross the shuffle, never text. Output carries both hashes for
    audit joins.
    """
    o = old.select("doc_id", F.md5("text").alias("old_md5"))
    n = new.select("doc_id", F.md5("text").alias("new_md5"))
    return _classify_diff(o, n)


def _classify_diff(o: DataFrame, n: DataFrame) -> DataFrame:
    """Shared full-outer classify for :func:`corpus_diff` (both hashes
    computed from text) and :func:`diff_from_ledger` (old hash read from
    the stored ledger)."""
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        "old_md5",
        "new_md5",
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def delta_signatures(
    old_sigs: DataFrame,
    diff: DataFrame,
    new_docs: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Incrementally maintain the MinHash signature index across corpus
    generations: re-shingle ONLY the docs :func:`corpus_diff` marks
    ``added``/``changed``; every ``unchanged`` doc's row is carried over
    from the stored signature table by a doc_id semi-join without
    touching its text (signatures are pure functions of text, so the
    carried rows are bit-identical to a recompute); ``removed`` docs
    simply don't survive either branch. Output: the complete signature
    table of the NEW generation — provably equal to
    ``minhash_signatures(shingles(new_docs))``.

    This is the crawl-over-crawl shape at 100 TB: a weekly crawl
    typically touches ~1% of documents, so the expensive path (text
    scan → shingle explode → 12-column min agg) runs over 1% of the
    corpus; the other 99% moves as 13 BIGINT columns semi-joined on the
    id — never as text. ``old_sigs`` is the stored index (in production
    a parquet/bucketed table; here any DataFrame), ``diff`` the
    generation ledger from :func:`corpus_diff`.

    Production cost ladder (measured — SCALE.md "Incremental signature
    maintenance"): the SHUFFLE is O(delta) unconditionally, but wall
    time only beats a full re-sign once the scans are too: (1) store
    ``md5(text)`` in the signature ledger so the old generation's text
    is never rescanned — then build ``diff`` from the stored hash
    column instead of :func:`corpus_diff`; (2) carry fetch-time
    checksums on the new generation; (3) land crawls as
    generation-partitioned dirs so the dirty slice prunes at file
    level (a doc_id semi-join cannot prune a row-group scan — on a
    monolithic table IO stays O(corpus) and full re-signing is as
    fast). With (1)–(3) the delta path measured 2× faster at a 1%
    dirty share, and the win grows as 1/dirty-share.
    """
    unchanged = diff.where(F.col("status") == "unchanged").select("doc_id")
    dirty = diff.where(F.col("status").isin("added", "changed")).select(
        "doc_id"
    )
    carried = old_sigs.join(unchanged, "doc_id", "left_semi")
    fresh = minhash_signatures(
        shingles(new_docs.join(dirty, "doc_id", "left_semi"), k=k)
    )
    # Schema contract: the output is exactly fresh's (doc_id, mh_*)
    # columns — and exactly its ROW MEMBERSHIP: a sign_generation-style
    # ledger carries NULL-signature rows for sub-k-word docs, which the
    # from-scratch shingle path never emits, so carried rows filter to
    # real signatures (min over a non-empty shingle set is never NULL —
    # the filter is a no-op for minhash_signatures-built ledgers).
    # Extra stored columns (the production recipe above stores
    # text_hash) project off rather than breaking unionByName.
    carried = carried.where(F.col("mh_0").isNotNull())
    return carried.select(*fresh.columns).unionByName(fresh)


# --------------------------------------------------------------------------
# O(delta) signature ledger (round 14) — the delta_signatures docstring's
# production shapes (1)–(3), shipped: store the content hash IN the
# signature table, diff the next crawl against the STORED hash (the old
# generation's text is never rescanned), land generations as partitioned
# dirs so the storage layer prunes at file level.
# --------------------------------------------------------------------------


def sign_generation(docs: DataFrame, k: int = 3) -> DataFrame:
    """The stored signature-ledger row set for ONE crawl generation:
    ``(doc_id, text_hash, mh_0 … mh_11)``, one row per document.
    ``text_hash = md5(text)`` always; signatures are computed
    row-locally (:func:`_sign_words`, the zero-shuffle chain of
    :func:`minhash_signatures_from_docs` — split → k-gram transform → md5
    base → ``array_min`` per seed, all inside the scan stage) and are
    NULL for docs shorter than
    ``k`` words, which carry no shingle evidence but must still be
    diffable next crawl.

    Storing the content hash is what makes the NEXT generation's diff
    O(delta): :func:`diff_from_ledger` joins the new crawl's hashes
    against this column, so the old generation contributes 13 slim
    BIGINT/hex columns — never text (the measured SCALE.md
    "Incremental signature maintenance" requirement (1))."""
    staged = docs.select(
        "doc_id", F.md5("text").alias("text_hash"), _words(F.col("text")).alias("_w")
    )
    return _sign_words(staged, k)


def diff_from_ledger(old_sigs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """:func:`corpus_diff` built from the STORED content hash — the
    O(delta) IO form: the old generation side is the signature ledger
    (``doc_id, text_hash`` projection of :func:`sign_generation` rows),
    so the only text scanned is the NEW crawl's. Same output schema and
    classification as :func:`corpus_diff`; provably equal to it because
    ``text_hash`` is the same ``md5(text)`` corpus_diff would compute.
    """
    o = old_sigs.select("doc_id", F.col("text_hash").alias("old_md5"))
    n = new_docs.select("doc_id", F.md5("text").alias("new_md5"))
    return _classify_diff(o, n)


def delta_sign(
    old_sigs: DataFrame,
    new_docs: DataFrame,
    k: int = 3,
    diff: DataFrame | None = None,
) -> DataFrame:
    """One-call generation advance for the signature ledger: diff the
    new crawl against the STORED hashes (:func:`diff_from_ledger` — no
    old-text scan), carry every unchanged doc's ledger row by doc_id
    semi-join, re-sign only added/changed docs, and emit the complete
    NEW generation's ledger (:func:`sign_generation` schema, ready for
    :func:`write_generation`). Provably equal to
    ``sign_generation(new_docs)`` — the gate row's oracle signs from
    scratch.

    This is the crawl-over-crawl loop body at 100 TB: per crawl, text
    IO = the new crawl once (hash + dirty-slice signing share one
    scan-stage projection); the carried 99% moves as slim ledger
    columns. With generations landed via :func:`write_generation`, the
    storage layer file-prunes the old side to the ledger partition —
    the layout SCALE.md measured as the condition for the 2× win at 1%
    dirty share.

    ``diff`` accepts a precomputed (ideally persisted)
    :func:`diff_from_ledger` result so callers that also need the diff
    (e.g. the ``cli sign`` crawl-delta census) don't pay the
    hash-and-join pass twice; default recomputes it internally."""
    if diff is None:
        diff = diff_from_ledger(old_sigs, new_docs)
    unchanged = diff.where(F.col("status") == "unchanged").select("doc_id")
    dirty = diff.where(F.col("status").isin("added", "changed")).select(
        "doc_id"
    )
    fresh = sign_generation(new_docs.join(dirty, "doc_id", "left_semi"), k=k)
    carried = old_sigs.join(unchanged, "doc_id", "left_semi")
    return carried.select(*fresh.columns).unionByName(fresh)


def write_generation(sigs: DataFrame, path: str, generation: int) -> str:
    """Land one generation's ledger under ``path/generation=N`` —
    production shape (3): a partitioned crawl layout, so reading any
    one generation is file-level pruning, not a row filter over a
    monolithic table. Returns the generation directory (feed it to
    ``spark.read.parquet`` or :func:`read_generation`)."""
    out = f"{path}/generation={generation}"
    sigs.write.mode("overwrite").parquet(out)
    return out


def read_generation(
    spark: SparkSession, path: str, generation: int
) -> DataFrame:
    """Read one generation's ledger rows back (no partition-discovery
    scan over sibling generations — the path IS the prune)."""
    return spark.read.parquet(f"{path}/generation={generation}")
