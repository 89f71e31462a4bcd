"""Physical-plan assertions — executable documentation that Catalyst picks
the scale-correct strategy for each operator family (SURVEY.md §4).

These run the plan (AQE finalizes join strategies at runtime) and then
assert on the operator census: broadcast joins for dim/query-bag joins, no
cartesian products anywhere, bounded shuffle counts, parquet scans not
duplicated beyond design.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hadoop_tfidf_spark.plans import plan_stats
from tests.conftest import SF_DIR_SMOKE

QS = entrymod.queries()


@pytest.fixture(scope="module")
def stats_of(spark):
    def _get(name):
        return plan_stats(QS[name](spark, SF_DIR_SMOKE))
    return _get


def test_search_uses_broadcast_join_no_cartesian(stats_of):
    """The query bag joins broadcast — the tf-idf side never reshuffles for
    the join (SURVEY.md §3 entry-point-2 trace)."""
    s = stats_of("search")
    assert s.broadcast_hash_joins >= 1
    assert s.cartesian_products == 0
    assert s.sort_merge_joins == 0


def _text_scans(s):
    """Parquet scans that read the ``text`` column (each re-tokenizes)."""
    return [r for r in s.read_schemas if re.search(r"[<,]text:", r)]


def test_tfidf_shuffle_budget(stats_of):
    """TF-IDF = two logical regroupings (by (word,doc), by word) — the
    reference's two MR jobs — in one plan: ≤ 3 shuffle exchanges (count,
    df agg, the 1-row corpus count), df-side joined by broadcast. The df
    branch reads the count's exchange as a ReusedExchange, so the text
    is scanned once; the only other scan is the column-less corpus
    count."""
    s = stats_of("tfidf")
    assert s.shuffle_exchanges <= 3
    assert s.reused_exchanges == 1
    assert len(_text_scans(s)) == 1
    assert s.broadcast_hash_joins >= 1
    assert s.cartesian_products == 0


def test_bm25_counts_text_once(spark):
    """BM25's four branches (the scored join, df, the doc lengths and the
    avgdl/N stats) read one ``(word, doc_id)`` exchange: the doc-length
    join is null-safe, so no inferred ``isnotnull(doc_id)`` filter splits
    the count in two. One text-reading scan. The cache is cleared first
    so that a cached count cannot stand in for a scan."""
    spark.catalog.clearCache()
    s = plan_stats(QS["search_bm25"](spark, SF_DIR_SMOKE))
    assert len(_text_scans(s)) == 1


def test_rel_star_join_all_broadcast(stats_of):
    """Fact→dim→dim→dim star join: every dim broadcast, zero sort-merge
    joins, exactly one shuffle (the final aggregation)."""
    s = stats_of("rel_revenue_by_region")
    assert s.broadcast_hash_joins == 3
    assert s.sort_merge_joins == 0
    assert s.shuffle_exchanges == 1


def test_pricing_summary_single_shuffle(stats_of):
    s = stats_of("rel_pricing_summary")
    assert s.shuffle_exchanges == 1
    assert s.parquet_scans == 1


def test_lsh_topk_is_equi_join(stats_of):
    """Bucketed ANN must plan an equi-join on the bucket id — never a
    cartesian/nested-loop over the corpus."""
    s = stats_of("sim_topk_lsh")
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins >= 1


def test_minhash_lsh_no_cartesian(stats_of):
    """LSH candidate generation is a bucket equi-join, not all-pairs."""
    s = stats_of("dedup_minhash_lsh")
    assert s.cartesian_products == 0


def test_pipeline_curate_narrow_prefix_no_smj(stats_of):
    """The curation pipeline must stay broadcast/equi-join only (no
    sort-merge, no cartesian) and its annotate prefix is narrow. It
    scans the corpus once: the annotate projection signs each document,
    and the near-dup drop reads the kept rows' band keys. Its two
    shuffles are the exact-dedup aggregation on the content hash (reused
    by the final anti-join) and the bucket window's exchange on
    ``(band, band_key)``; the anti-join broadcasts the drop set."""
    s = stats_of("pipeline_curate")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.sort_merge_joins == 0
    assert s.shuffle_exchanges <= 2
    assert s.parquet_scans == 1


def test_pipeline_curate_capped_no_smj(spark):
    """A bucket-size cap is a filter on the bucket window's count, so the
    capped curation plans the same shape as the default one: no
    sort-merge join, at most two shuffles, one scan."""
    from hadoop_tfidf_spark.corpus import load_docs
    from hadoop_tfidf_spark.pipeline import curate_corpus

    docs = load_docs(spark, f"{SF_DIR_SMOKE}/documents.parquet", rebalance=True)
    s = plan_stats(curate_corpus(docs, max_bucket_size=8))
    assert s.sort_merge_joins == 0
    assert s.shuffle_exchanges <= 2
    assert s.parquet_scans == 1


def test_pipeline_curate_joins_nothing_on_band_key(spark):
    """The near-dup drop is a bucket minimum, not a pair self-join: no
    join in the curation plan has ``band_key`` among its keys."""
    from hadoop_tfidf_spark.plans.inspect import executed_plan

    plan = executed_plan(QS["pipeline_curate"](spark, SF_DIR_SMOKE))
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert joins and not [ln for ln in joins if "band_key" in ln]


def test_minhash_capped_is_window_plus_equi_join(stats_of):
    """The megabucket cap is a count over the bucket window, whose
    exchange both sides of the band self-join read: one scan, no
    cartesian, no nested loop (the 100 TB safety-valve dataflow must not
    itself become a scale hazard)."""
    s = stats_of("dedup_minhash_capped")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.parquet_scans == 1


def test_multimodal_no_shuffle(stats_of):
    """Decode is a narrow Arrow stage: zero exchanges of any kind."""
    s = stats_of("multimodal_decode")
    assert s.shuffle_exchanges == 0
    assert s.broadcast_exchanges == 0


def test_tokens_narrow(stats_of):
    """Tokenize+flatten never shuffles (SURVEY.md O2 scale note)."""
    s = stats_of("tokens")
    assert s.shuffle_exchanges == 0


def test_filter_pushdown_reaches_scan(spark):
    """Predicate + column pruning reach the parquet scan (SURVEY.md §4 P7/P8
    — the reference scans everything, always)."""
    from hadoop_tfidf_spark.plans.inspect import executed_plan

    li = spark.read.parquet(f"{SF_DIR_SMOKE}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = executed_plan(q, run=False)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_returned_top_is_topk_not_global_sort(stats_of):
    """Q10-shaped report: dims broadcast; orderBy().limit() becomes
    TakeOrderedAndProject, so no extra range-partition exchange beyond the
    aggregation shuffle."""
    s = stats_of("rel_returned_top")
    assert s.broadcast_hash_joins >= 2
    assert s.cartesian_products == 0
    assert s.shuffle_exchanges <= 2


def test_market_share_windows_aggregate_not_fact(stats_of):
    """Share-of-parent: window runs over the (region, nation, year)
    aggregate — dims broadcast, two shuffles (agg + window re-key), never
    a fact-row window."""
    s = stats_of("rel_market_share")
    assert s.broadcast_hash_joins == 3
    assert s.shuffle_exchanges <= 2


def test_asof_next_event_single_key_shuffle(stats_of):
    """Forward as-of: union+window plan — shuffles bounded (right-side
    pre-aggregation + the key partition), no join explosion."""
    s = stats_of("asof_next_event")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.shuffle_exchanges <= 3


def test_cooccurrence_equi_join(stats_of):
    """Pair generation is an equi-join on doc_id (broadcast or SMJ), never
    an all-pairs product."""
    s = stats_of("text_cooccurrence")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0


def test_c4_filters_zero_shuffle(stats_of):
    """The C4 rule gate is a pure scan-stage projection — no exchange of
    any kind (the 100 TB contract: rule filtering runs at scan speed)."""
    s = stats_of("text_c4_filters")
    assert s.shuffle_exchanges == 0
    assert s.broadcast_exchanges == 0


def test_pack_sequences_single_window_exchange(stats_of):
    """Packing is one bucket-keyed exchange + one sort + the window —
    nothing global, no joins."""
    s = stats_of("text_pack_sequences")
    assert s.shuffle_exchanges == 1
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins == 0
    assert s.sort_merge_joins == 0


def test_span_dedup_bucketed_never_all_pairs(stats_of):
    """Span dedup = one span-hash window tag + doc_id agg + one equi-join
    back; no cartesian, no global sort, bounded shuffles."""
    s = stats_of("dedup_span_exact")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.shuffle_exchanges <= 3


def test_label_centroids_confusion_small_shuffles(stats_of):
    """The confusion matrix runs on broadcast centroid literals — one
    corpus scan, label-sized aggregations only, no joins at all."""
    s = stats_of("sim_label_centroids")
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins == 0
    assert s.sort_merge_joins == 0
    assert s.shuffle_exchanges <= 1


def test_pq_topk_projection_over_codes(stats_of):
    """ADC search is a codegen projection over the compressed codes (the
    ADC tables ride as literals) + one top-k window — no join against the
    original vectors at search time."""
    s = stats_of("sim_topk_pq")
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins == 0
    assert s.sort_merge_joins == 0


def test_span_sliding_same_dataflow_as_fixed(stats_of):
    """Sliding spans keep the fixed-stride dataflow: span-hash window tag
    + doc_id agg + equi-join back + word-coverage projection — no
    cartesian, no nested-loop, same shuffle budget."""
    s = stats_of("dedup_span_sliding")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.shuffle_exchanges <= 3


def test_ivfpq_probe_is_broadcast_equi_join(spark):
    """IVFADC search: the (queries × nprobe) probe relation broadcasts
    onto the cell-id equi-join; ADC is a projection — never a cartesian
    sweep of the corpus, ≤ 2 shuffles (code join + top-k window).
    Built from the operators directly — the declared query unpersists
    the embedding cache after the build collects and returns a lazy
    search plan that re-reads parquet, so the census sees the search
    plan but not the cached build."""
    from hadoop_tfidf_spark.extensions import (
        IVF_ITERS,
        IVF_K,
        IVF_NPROBE,
        IVF_UNITS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        SIM_K,
        SIM_QUERY_IDS,
    )
    from hadoop_tfidf_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    assigned, cents = S.ivf_build(emb, k=IVF_K, iters=IVF_ITERS, units=IVF_UNITS)
    codes, books = S.pq_build(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, units=IVF_UNITS, pack=True
    )
    out = S.ivfpq_topk(
        assigned, cents, codes, books, SIM_QUERY_IDS,
        k=SIM_K, nprobe=IVF_NPROBE, units=IVF_UNITS,
    )
    s = plan_stats(out)
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0
    assert s.broadcast_hash_joins >= 1
    assert s.shuffle_exchanges <= 2


def test_cooccurrence_capped_is_still_equi_join(stats_of):
    """The vocab cap is a narrow slice BEFORE the explode — the pair join
    stays a doc_id equi-join, no extra shuffle for the cap."""
    s = stats_of("text_cooccurrence_capped")
    assert s.cartesian_products == 0
    assert s.shuffle_exchanges <= 2


def test_semantic_dedup_blocked_never_all_pairs(stats_of):
    """SemDeDup: the within-cell pair test is a cluster-keyed equi-join
    (the k-means blocking IS the candidate generation) — no cartesian,
    no nested-loop sweep of the corpus."""
    s = stats_of("dedup_semantic")
    assert s.cartesian_products == 0
    assert s.nested_loop_joins == 0


def test_rp_project_zero_shuffle_zero_join(stats_of):
    """JL projection is a pure codegen pass: the sign matrix rides as
    array literals — no exchange, no join of any kind."""
    s = stats_of("sim_rp_project")
    assert s.shuffle_exchanges == 0
    assert s.broadcast_hash_joins == 0
    assert s.sort_merge_joins == 0
    assert s.cartesian_products == 0


def test_pca_project_zero_shuffle(stats_of):
    """PCA projection (components as literals after the driver-side
    eigensolve) is the same zero-shuffle shape as the JL projection."""
    s = stats_of("sim_pca_project")
    assert s.shuffle_exchanges == 0
    assert s.sort_merge_joins == 0
    assert s.cartesian_products == 0


def test_dsir_broadcasts_ratio_table_no_cartesian(stats_of):
    """DSIR: bucket stats are one hash agg; the scoring join broadcasts
    the bucket-sized ratio relation; nothing cartesian, nothing
    sort-merge."""
    s = stats_of("text_dsir")
    assert s.broadcast_hash_joins >= 1
    assert s.cartesian_products == 0


@pytest.mark.parametrize(
    "name",
    ["sim_topk_brute", "sim_topk_lsh", "sim_topk_ivf", "sim_rp_topk"],
)
def test_topk_windows_get_partial_window_group_limit(stats_of, name):
    """Every per-query top-k in the ANN family relies on Spark pushing a
    PARTIAL WindowGroupLimit below the exchange: each map task keeps only
    its local top-k per query BEFORE the shuffle, so the exchange carries
    k·queries·tasks rows instead of the whole scored corpus. Spark only
    inserts it when the filter is on the rank/row_number column itself —
    filtering a derived column (or an upgrade regression) silently loses
    the pushdown and the shuffle becomes corpus-sized; this pins it."""
    s = stats_of(name)
    assert s.partial_window_group_limits >= 1, (
        f"{name}: top-k window lost its Partial WindowGroupLimit pushdown "
        "— the pre-shuffle rank cut is gone and the exchange is now "
        "corpus-sized"
    )
    # and the Final-mode twin above the exchange completes the pair
    assert s.window_group_limits > s.partial_window_group_limits


def test_rank_topk_is_take_ordered_not_global_sort(stats_of):
    """The reference's Rank job (single-reducer global sort) maps to
    TakeOrderedAndProject — per-partition top-k then a k-sized merge,
    never a full range-partitioned sort of the corpus. 'rank' has no
    WindowGroupLimit because it has no per-key window at all: the census
    shows zero sorts beyond the k-sized driver merge."""
    s = stats_of("rank")
    assert s.window_group_limits == 0
    assert s.cartesian_products == 0


@pytest.mark.parametrize(
    "name", ["sim_topk_sq", "sim_topk_bq", "sim_topk_ivfsq", "sim_topk_opq_ivfpq"]
)
def test_quantization_ladder_plans_no_cartesian_wgl_pushdown(stats_of, name):
    """Every quantization-ladder retrieval keeps the zero-cartesian
    invariant and both of its per-query top-k windows (stage-1 cut +
    exact re-rank, or the ADC rank) get the pre-shuffle Partial
    WindowGroupLimit — losing either turns a bounded exchange
    corpus-sized."""
    s = stats_of(name)
    assert s.cartesian_products == 0
    assert s.partial_window_group_limits >= 1
    assert s.window_group_limits > s.partial_window_group_limits


def test_ivfsq_probe_is_broadcast_equi_join(stats_of):
    """IVF-SQ stage 1 reaches cell members through a BROADCAST equi-join
    of the (queries × nprobe) probe relation on the cluster id — never a
    nested-loop scan of the corpus (the flat SQ/BQ scans use the
    documented small-queries broadcast NLJ instead; the probe is exactly
    what buys IVF-SQ out of it)."""
    s = stats_of("sim_topk_ivfsq")
    assert s.broadcast_hash_joins >= 1
    assert s.nested_loop_joins == 0


def test_streaming_bq_index_is_pure_map(stats_of):
    """The streaming BQ index build is a stateless append-mode map: the
    drained batch relation shows zero shuffles, zero joins — the
    property that lets the index ride ingest with no reprocessing."""
    s = stats_of("streaming_bq_index")
    assert s.shuffle_exchanges == 0
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins == 0 and s.sort_merge_joins == 0


def test_hybrid_rrf_fusion_no_cartesian(stats_of):
    """RRF fusion: the full-outer fusion join is over two top-k-bounded
    relations (a tiny sort-merge — Spark cannot broadcast a FULL outer
    side); nothing cartesian anywhere in the composed lexical + vector
    plan."""
    s = stats_of("search_hybrid_rrf")
    assert s.cartesian_products == 0
    assert s.partial_window_group_limits >= 1


def test_audio_keep_narrow(stats_of):
    """The keep-mode decode stays two narrow Arrow stages — poisoning a
    subset of payloads adds a projection, never an exchange."""
    s = stats_of("multimodal_audio_keep")
    assert s.shuffle_exchanges == 0
    assert s.broadcast_exchanges == 0
    assert s.cartesian_products == 0


def test_tier_frontier_census(stats_of):
    """Six tier chains + six count aggregates: never a cartesian
    product (the only nested-loop stages are the documented broadcast
    small-queries scans), every codebook/centroid/query relation joins
    by broadcast, and the final union is aggregate-sized."""
    s = stats_of("sim_tier_frontier")
    assert s.cartesian_products == 0
    assert s.broadcast_hash_joins >= 6


def test_quality_adaptive_one_shuffle_no_join(stats_of):
    """quality + source come out of ONE scan (quality_score keep_cols
    passthrough) — the per-source cut is one window shuffle, zero
    joins, zero extra scans (the first cut of this query joined the
    corpus back to itself on doc_id; census-pinned so it stays fixed)."""
    s = stats_of("text_quality_adaptive")
    assert s.shuffle_exchanges == 1
    assert s.broadcast_hash_joins == 0
    assert s.sort_merge_joins == 0
    assert s.parquet_scans == 1


def test_ivfpq_bulk_census(stats_of):
    """The bulk compressed kNN graph (round 14): stage-1 candidates come
    from the pre-joined (cluster, code) index — ONE regrouping exchange
    total, zero cartesian products, and the final per-query top-k window
    carries the partial WindowGroupLimit pushdown (the exchange stays
    k-rows-per-key-per-task, not corpus-sized)."""
    s = stats_of("sim_topk_ivfpq_bulk")
    assert s.cartesian_products == 0
    assert s.shuffle_exchanges <= 2
    assert s.partial_window_group_limits >= 1


def test_delta_ledger_census(stats_of):
    """The O(delta) ledger advance (round 14): zero cartesian products
    and exactly four relation scans — the stored ledger twice (slim
    diff projection + full carry) and the NEW crawl twice (hash side +
    dirty-slice signing); the old generation's text contributes no scan
    at all (the inputFiles pin lives in test_round14_ops)."""
    s = stats_of("dedup_delta_ledger")
    assert s.cartesian_products == 0
    assert s.parquet_scans == 4
