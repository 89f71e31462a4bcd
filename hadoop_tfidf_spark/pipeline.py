"""End-to-end corpus curation — the LLM-training-data pipeline composed
from the engine's operator families as ONE lazy Spark plan:

    annotate (lang-id, quality)  →  filter  →  exact dedup  →
    near-dup drop (MinHash-LSH)  →  [semantic dedup (SemDeDup), when an
    embeddings table is supplied]  →  deterministic train/valid/test split

This is the flagship composition the extension surface exists for (the
reference repo's 4-job TF-IDF chain is the same idea at 1/10 the operator
count: SURVEY.md §3 — chain jobs into one dataflow; here Catalyst gets
the whole graph and schedules it as one job DAG).

Scale shape (100 TB):
* annotation (quality + lang-id + the MinHash signature + the md5 dedup
  key) is NARROW — one projection splits each text once into a staged
  word array that both scores and the row-local signature read
  (``_quality_terms`` / ``_lang_argmax`` / ``dedup._sign_words``), so
  the annotate prefix costs zero shuffles and zero joins, and the
  corpus is scanned once;
* filter + exact dedup is ONE aggregation keyed on the md5 (a uniformly
  distributed hash — no skew): each content group keeps its lowest
  PASSING id, which is exactly filter-then-dedup (``_exact_dedup``);
  the 12 BIGINT signature columns ride through it with the scores;
* the near-dup drop set is a bucket minimum over the kept rows' LSH
  band keys (``dedup.lsh_bucket_drops``): one window over
  ``(band, band_key)`` — one exchange on the bucket key, no pair
  relation, no self-join — and it leaves by one ``doc_id`` anti-join.
  A boilerplate megabucket is one window partition, sorted in linear,
  spillable work, where a pair self-join would emit the square of its
  size. The window and the anti-join are the kept relation's only two
  references and reuse the dedup aggregation's exchange;
* nothing is persisted: the plan is one job DAG, and a 100 TB run
  checkpoints stage outputs to parquet instead (splits feed trainers,
  drop lists feed audits);
* the split label is a pure projection (content-addressed md5 bucket),
  pushed to whatever scan feeds the final write, and ingest-stable (a
  doc's split never changes when more data arrives).

Near-dup policy: a doc is dropped when it appears as the HIGHER id
(``doc_b``) of any LSH candidate pair — the 1-hop min-id canonical rule.
It is computed as a bucket minimum, without building the pairs: a doc
drops exactly when some non-NULL ``(band, band_key)`` bucket it sits in
holds a lower ``doc_id`` (and, with ``max_bucket_size``, holds at most
that many rows). Chains (a,b),(b,c) therefore keep only ``a``
(conservative: both non-minimal members drop). The fixpoint variant
that keeps one survivor per connected component exists as
:func:`hadoop_tfidf_spark.operators.dedup.near_dup_components`; the 1-hop
rule is the SQL-expressible one, so it is what the oracle gate checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.text import (
    _alpha_chars,
    _lang_argmax,
    _quality_terms,
)
from hadoop_tfidf_spark.operators.dedup import (
    _sign_words,
    _words,
    lsh_bands,
    lsh_bucket_drops,
)
from hadoop_tfidf_spark.operators.sampling import hash_split

DEFAULT_SPLITS = {"train": 90, "valid": 5, "test": 5}


def _exact_dedup(ann: DataFrame, lang: str, min_quality: float) -> DataFrame:
    """Filter-then-exact-dedup of an annotated ``(doc_id, _h, quality,
    pred_lang, …)`` relation as ONE aggregation on the content hash
    ``_h``: each group keeps the ``min`` of ``(_drop, doc_id, …)``, so a
    passing copy sorts before every failing one and the lowest passing id
    survives — exactly ``where(passed)`` followed by the min-id dedup,
    even when an md5 collision puts a failing lower id in the group. The
    filter runs after the aggregate, so Catalyst cannot push it beneath
    the staged word array (a pushed filter re-splits the text per
    reference). Every column but ``_h`` rides through."""
    passed = (F.col("pred_lang") == lang) & (F.col("quality") >= min_quality)
    cols = [c for c in ann.columns if c != "_h"]
    return (
        ann.groupBy("_h")
        .agg(F.min(F.struct((~passed).alias("_drop"), *cols)).alias("_s"))
        .where(~F.col("_s._drop"))
        .select(*[F.col(f"_s.{c}").alias(c) for c in cols])
    )


def curate_corpus(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    splits: dict[str, int] | None = None,
    seed: int | str = 0,
    max_bucket_size: int | None = None,
    keep_text: bool = False,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_k: int = 16,
    semantic_iters: int = 2,
    semantic_units: int = 1_000_000,
) -> DataFrame:
    """Curate ``(doc_id, text)`` into ``(doc_id, pred_lang, quality,
    split)`` — language filter, quality filter, exact dedup, near-dup
    drop, split labels; one lazy plan that persists nothing (see module
    docstring for the per-stage scale analysis). ``keep_text=True``
    retains the ``text`` column for downstream stages that consume the
    curated corpus itself (e.g. sequence packing); it is the same plan
    with ``text`` carried through the dedup aggregation.

    Filters compare against the ROUNDED quality score (the hash-gate
    contract of :func:`quality_score`), so the kept set is identical in
    any engine that reproduces the 6-decimal rounding.
    """
    text = ["text"] if keep_text else []
    # annotate once: the word array is bound by its own projection, and
    # quality, lang-id and the MinHash signature all read it
    # (CollapseProject keeps a multi-referenced split staged), so each
    # text is split once
    staged = docs.select(
        "doc_id",
        *text,
        _words(F.col("text")).alias("_w"),
        F.md5("text").alias("_h"),
        F.length("text").alias("_n"),
        _alpha_chars(F.col("text")).alias("_a"),
    )
    quality = _quality_terms(F.col("_w"), F.col("_a"), F.col("_n"))[-1]
    pred_lang, _ = _lang_argmax(F.col("_w"))
    # the signature rides through the dedup aggregation with the scores,
    # so LSH bands the kept rows and the corpus is scanned once. A bucket
    # is a function of its members' own signatures, so each kept doc
    # drops iff a lower kept id shares one of its buckets, and a
    # bucket-size cap counts kept rows only.
    kept = _exact_dedup(
        _sign_words(
            staged.select(
                "doc_id",
                *text,
                "_h",
                quality.alias("quality"),
                pred_lang.alias("pred_lang"),
                "_w",
            )
        ),
        lang,
        min_quality,
    )
    near_drop = lsh_bucket_drops(lsh_bands(kept), max_bucket_size=max_bucket_size)
    kept = kept.join(near_drop, "doc_id", "left_anti")
    if embeddings is not None:
        # Third dedup modality (SemDeDup): docs whose embedding loses its
        # within-cell cosine neighborhood (lowest id survives) drop via
        # one doc_id-keyed ANTI-join against the DROP set (keep=0). The
        # drop set is computed over the FULL embeddings table —
        # clustering needs the whole space, and a doc filtered upstream
        # can still disqualify its semantic twin (same conservatism as
        # the exact/lexical stages' min-id rules). Anti-join, NOT a
        # semi-join on the keep set: a doc with no row in the embeddings
        # table must SURVIVE this stage (the stage is a dedup, not a
        # coverage filter) — the same keep-on-uncertainty failure mode
        # the megacell valve follows.
        from hadoop_tfidf_spark.operators.similarity import semantic_dedup

        sem_drop = (
            semantic_dedup(
                embeddings,
                k=semantic_k,
                iters=semantic_iters,
                units=semantic_units,
                threshold=semantic_threshold,
            )
            .where(F.col("keep") == 0)
            .select(F.col("vec_id").alias("doc_id"))
        )
        kept = kept.join(sem_drop, "doc_id", "left_anti")
    labeled = hash_split(kept, "doc_id", splits or dict(DEFAULT_SPLITS), seed)
    return labeled.select("doc_id", *text, "pred_lang", "quality", "split")
