"""Pipeline / search / SQL-surface declared queries (curation flagship, BM25, hybrid RRF, doc similarity).

Split from the original single-module ``extensions.py`` (round 15) with
block text preserved verbatim; see the package ``__init__`` for the
registry contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from hadoop_tfidf_spark.functions.literals import _local_relation
from hadoop_tfidf_spark.operators import similarity as S
from pyspark.sql import DataFrame, SparkSession, Window
from hadoop_tfidf_spark.extensions._base import (
    _docs,
    _emb,
)
from hadoop_tfidf_spark.extensions._dedup import (
    GATE_NEAR_DUP_COS,
)
from hadoop_tfidf_spark.extensions._sim import (
    IVF_ITERS,
    IVF_K,
    IVF_UNITS,
    SIM_K,
    SIM_QUERY_IDS,
)



# --------------------------------------------------------------------------
# Spark builders
# --------------------------------------------------------------------------

def q_pipeline_curate(spark, sf_dir):
    """Flagship composition: lang-id → quality filter → exact dedup →
    MinHash-LSH near-dup drop → deterministic split, one lazy plan
    (``pipeline.curate_corpus``). The oracle replays every stage in SQL
    over the same corpus — the strongest end-to-end artifact the engine
    declares (each stage is also hash-gated standalone)."""
    from hadoop_tfidf_spark.pipeline import curate_corpus

    return curate_corpus(_docs(spark, sf_dir, rebalance=True))


def q_pipeline_curate_semantic(spark, sf_dir):
    """Flagship curation with ALL THREE dedup modalities composed:
    exact (md5) → lexical (MinHash-LSH) → semantic (SemDeDup over the
    embeddings table, doc_id ≡ vec_id) → split. The semantic keep set
    is one extra doc_id-keyed semi-join on the curated relation; its
    cost is the IVF build, which a real pipeline amortizes across the
    recall dashboards that share the index. Gate threshold
    :data:`GATE_NEAR_DUP_COS` (random embeddings — see
    q_dedup_semantic)."""
    from hadoop_tfidf_spark.pipeline import curate_corpus

    return curate_corpus(
        _docs(spark, sf_dir, rebalance=True),
        embeddings=_emb(spark, sf_dir, rebalance=True),
        semantic_threshold=GATE_NEAR_DUP_COS,
        semantic_k=IVF_K,
        semantic_iters=IVF_ITERS,
        semantic_units=IVF_UNITS,
    )


def q_pipeline_curate_pack(spark, sf_dir):
    """Flagship extended to the training-ready layout: the full curation
    pipeline (lang-id → quality → exact dedup → LSH near-dup → split)
    composed with SPLIT-AWARE sequence packing — each train/valid/test
    split packs independently into ~512-token packs (a doc never shares a
    pack across splits), still ONE lazy plan. The oracle replays the
    entire curation in SQL and then the packing window on top."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences
    from hadoop_tfidf_spark.pipeline import curate_corpus

    curated = curate_corpus(_docs(spark, sf_dir, rebalance=True), keep_text=True)
    return pack_sequences(
        curated.select("doc_id", "text", "split"),
        budget=512,
        n_buckets=8,
        partition_by=["split"],
    )


def q_search_bm25(spark, sf_dir):
    """Okapi BM25 ranking over the same query literals as `search` —
    distinct-term semantics, length-normalized saturated tf (search.bm25).
    The oracle recomputes idf/tf_c/score independently in SQL."""
    from hadoop_tfidf_spark.declared import SEARCH_QUERIES, _tokens
    from hadoop_tfidf_spark.search import bm25, query_term_bag
    from hadoop_tfidf_spark.tfidf import doc_word_count

    dwc = doc_word_count(_tokens(spark, sf_dir))
    bag = query_term_bag(spark, SEARCH_QUERIES)
    out = bm25(dwc, bag)
    return out.select("query_id", "doc_id", F.round("score", 6).alias("score"))


def q_doc_frequency_salted(spark, sf_dir):
    """Document frequency via the two-phase SALTED aggregation — the skew
    path (operators/skew.salted_agg) under the strong oracle gate: a hot
    word spreads over 32 salt buckets in phase 1, phase 2 merges partials;
    the result must hash-match the plain doc_frequency oracle (salting is
    value-preserving)."""
    from hadoop_tfidf_spark.corpus import SPACE_TOKEN_PATTERN, tokenize
    from hadoop_tfidf_spark.operators.skew import salted_agg
    from hadoop_tfidf_spark.tfidf import doc_word_count

    dwc = doc_word_count(tokenize(_docs(spark, sf_dir), SPACE_TOKEN_PATTERN))
    return salted_agg(dwc, "word", F.count(F.lit(1)), "df", merge="sum")


def q_sql_tfidf_top100(spark, sf_dir):
    """The engine's SQL surface under the driver gate: the global top-100
    TF-IDF scores expressed as ``spark.sql`` text over the registered lazy
    views (sql.register_views) — the view re-plans per query, so Catalyst
    still prunes/pushes inside the derived relations."""
    from hadoop_tfidf_spark.sql import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT word, doc_id, round(tfidf, 6) AS tfidf
        FROM tfidf
        ORDER BY round(tfidf, 6) DESC, word, doc_id
        LIMIT 100
    """)


def q_doc_similarity_tfidf(spark, sf_dir):
    """Doc-to-doc cosine in TF-IDF space (top-100 pairs) — the reflexive
    extension of the reference's query scoring (Search.java:210–252 applied
    doc-vs-doc instead of query-vs-doc)."""
    from hadoop_tfidf_spark.declared import _tfidf_rounded
    from hadoop_tfidf_spark.search import doc_similarity

    return doc_similarity(_tfidf_rounded(spark, sf_dir), k=100)


#: RRF constant (Cormack et al. 2009 — 60 is the canonical choice),
#: lexical candidate depth, and fused output depth.
RRF_K = 60
RRF_LEX_TOPN = 20
RRF_TOPK = 10


def q_search_hybrid_rrf(spark, sf_dir):
    """HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    of the reference's lexical TF-IDF ranking with the vector index:
    the modern search deployment a TF-IDF user upgrades to without
    discarding the lexical side. Per query: the lexical top-20 from the
    core DQ6 ranking (reference Rank semantics, score-desc/doc-id
    tie-break) full-outer-joins the exact integer-L2 top-10 for the
    query's mapped embedding (``SEARCH_QUERIES[i] ↔ SIM_QUERY_IDS[i]``;
    the fixture convention ``vec_id ≡ doc_id`` the semantic curate
    pipeline already uses), fused score = Σ 1/(60+rank) over the lists
    the doc appears in — a FIXED two-term expression, so the double
    arithmetic replays bit-identically — and the fused top-10 ranks
    with (score desc, doc_id) tie-breaks. NULL ``r_lex``/``r_sem``
    surface which list each hit came from.

    Scale: both inputs are already top-k-bounded per query (the
    rankings do the heavy lifting; fusion touches ≤30 rows per query),
    so the fusion join — a sort-merge, since Spark cannot broadcast a
    FULL outer side — and its window run over (queries × 30) rows
    regardless of corpus size."""
    from hadoop_tfidf_spark.declared import SEARCH_QUERIES, q_rank

    vec_ids = SIM_QUERY_IDS[: len(SEARCH_QUERIES)]
    lex = (
        q_rank(spark, sf_dir)
        .where(F.col("rnk") <= RRF_LEX_TOPN)
        .select("query_id", "doc_id", F.col("rnk").cast("bigint").alias("r_lex"))
    )
    emb = _emb(spark, sf_dir)
    queries = emb.where(S._id_in("vec_id", vec_ids))
    qmap = _local_relation(
        spark,
        [(qid, int(v)) for (qid, _), v in zip(SEARCH_QUERIES, vec_ids)],
        "query_id STRING, qvec_id BIGINT",
    )
    sem = (
        S.int_l2_topk(emb, queries, k=SIM_K, units=IVF_UNITS)
        .select(
            F.col("query_id").alias("qvec_id"),
            F.col("vec_id").alias("doc_id"),
            F.col("rn").cast("bigint").alias("r_sem"),
        )
        .join(F.broadcast(qmap), "qvec_id")
        .select("query_id", "doc_id", "r_sem")
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        "r_lex",
        "r_sem",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= RRF_TOPK)
    )
