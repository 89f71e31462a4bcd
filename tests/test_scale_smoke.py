"""Scale smoke: the heavy operators on an 8x-replicated sf0.01 corpus
(≈4k docs → 32k docs with distinct ids). Not a benchmark — asserts the
operators COMPLETE at a larger scale with sane output cardinalities, and
that nothing explodes combinatorially (the LSH self-join must stay
bounded by real near-dup clusters even when every doc suddenly has 8
exact replicas ... which is exactly the boilerplate-megacluster stress
the bucket cap exists for)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import load_docs, rebalance_scan
from hadoop_tfidf_spark.functions.text import fingerprint
from hadoop_tfidf_spark.operators import dedup as D
from hadoop_tfidf_spark.tfidf import tfidf

REPLICAS = 8
SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def big_docs(spark):
    base = load_docs(spark, f"{SF_DIR}/documents.parquet")
    n = base.count()
    parts = [
        base.select((F.col("doc_id") + F.lit(i * 10 * n)).alias("doc_id"), "text")
        for i in range(REPLICAS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return rebalance_scan(out, spark).persist()


def test_tfidf_scales(spark, big_docs):
    """df counts every replica; vocabulary is unchanged."""
    base = tfidf(load_docs(spark, f"{SF_DIR}/documents.parquet"), tokenizer_pattern=" ")
    big = tfidf(big_docs, tokenizer_pattern=" ")
    base_vocab = base.select("word").distinct().count()
    assert big.select("word").distinct().count() == base_vocab
    # every (word, doc) row exists once per replica
    assert big.count() == REPLICAS * base.count()


def test_exact_dedup_collapses_replicas(spark, big_docs):
    groups = D.exact_dedup(big_docs)
    # replication multiplies dup_count by 8, never the group count
    base_groups = D.exact_dedup(
        load_docs(spark, f"{SF_DIR}/documents.parquet")
    ).count()
    assert groups.count() == base_groups
    assert groups.agg(F.min("dup_count")).collect()[0][0] >= REPLICAS


def test_lsh_megacluster_cap_bounds_fanout(spark, big_docs):
    """Every doc now sits in an 8-replica bucket: uncapped pair count is
    ≥ C(8,2)=28 per base doc; the cap keeps candidate generation bounded
    (the 100 TB survival property) while exact-dup handling is the
    documented pre-pass for megaclusters."""
    bands = D.lsh_bands(D.minhash_signatures(D.shingles(big_docs, k=3)))
    capped = D.lsh_candidate_pairs(bands, max_bucket_size=4).count()
    assert capped == 0  # every bucket ≥ 8 members → all dropped by the cap


def test_fingerprint_zero_shuffle_at_scale(spark, big_docs):
    out = fingerprint(big_docs)
    assert out.count() > 0
    # narrow plan: output partitioning == input partitioning
    assert out.rdd.getNumPartitions() == big_docs.rdd.getNumPartitions()


def test_span_dedup_all_spans_duplicated_at_scale(spark, big_docs):
    """With 8 exact replicas of every doc, EVERY span occurs in ≥ 8 docs —
    the dup set is the entire span universe (the worst case for the
    join-back) and the operator must still complete with every doc fully
    scrubbed: n_dup_spans == n_spans and empty clean_text everywhere."""
    out = D.span_dedup(big_docs, span_words=5)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum((F.col("n_dup_spans") == F.col("n_spans")).cast("int")).alias("all_dup"),
        F.max(F.length("clean_text")).alias("max_clean"),
    ).collect()[0]
    assert agg.n == big_docs.count()
    assert agg.all_dup == agg.n
    assert agg.max_clean == 0


def test_pack_sequences_conserves_tokens_at_scale(spark, big_docs):
    """Packing 8× the corpus: one row per doc, and per-bucket token sums
    equal the corpus' own per-bucket sums (packing moves nothing)."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    packed = pack_sequences(big_docs, budget=512, n_buckets=16)
    assert packed.count() == big_docs.count()
    from hadoop_tfidf_spark.operators.sampling import hash_bucket_col

    direct = {
        r.b: r.s
        for r in big_docs.select(
            hash_bucket_col(F.col("doc_id"), 16).cast("bigint").alias("b"),
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("t"),
        )
        .groupBy("b")
        .agg(F.sum("t").alias("s"))
        .collect()
    }
    via_pack = {
        r.bucket: r.s
        for r in packed.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert via_pack == direct


def test_pq_replicated_vectors_share_min_adc(spark):
    """8 exact replicas of every embedding: the query's replicas must
    occupy the top of its ADC ranking with one shared minimal distance
    (identical vectors get identical codes)."""
    from hadoop_tfidf_spark.operators.similarity import pq_build, pq_topk

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    n = 1000
    parts = [
        base.select((F.col("vec_id") + F.lit(i * n)).alias("vec_id"), "embedding")
        for i in range(REPLICAS)
    ]
    emb = parts[0]
    for p in parts[1:]:
        emb = emb.unionByName(p)
    codes, books = pq_build(emb, m=4, k=8, iters=1)
    out = pq_topk(emb, codes, books, [0], k=REPLICAS - 1).collect()
    assert len(out) == REPLICAS - 1
    assert {r.vec_id for r in out} == {i * n for i in range(1, REPLICAS)}
    assert len({r.adc_d2 for r in out}) == 1


def test_pipeline_curate_collapses_replicas_to_base(spark, big_docs):
    """End-to-end: curating the 8x-replicated corpus must yield EXACTLY
    the base curation — every replica is an exact duplicate, exact dedup
    keeps the minimum id (the original), and the LSH/near-dup/split
    stages see the same survivors. The strongest whole-pipeline scale
    invariant: 8x the data, bit-identical output."""
    from hadoop_tfidf_spark.pipeline import curate_corpus

    base = {
        tuple(r)
        for r in curate_corpus(
            load_docs(spark, f"{SF_DIR}/documents.parquet")
        ).collect()
    }
    big = {tuple(r) for r in curate_corpus(big_docs).collect()}
    assert big == base and base



def test_rebalance_ignores_inflated_size_estimates(spark):
    """A cross join's size statistic multiplies its inputs' (≈1.6 PB
    here, ~10^7 partitions' worth) although the relation is one
    partition after the coalesce: the rebalance target stays a small
    multiple of the cluster's parallelism instead of trusting the
    estimate. Only the plan is inspected — nothing executes."""
    from hadoop_tfidf_spark.corpus import REBALANCE_MAX_FACTOR

    # large enough that neither side broadcasts: a plain cartesian plan
    inflated = spark.range(10**7).crossJoin(spark.range(10**7)).coalesce(1)
    parallelism = spark.sparkContext.defaultParallelism
    out = rebalance_scan(inflated, spark)
    n = out._jdf.queryExecution().logical().numPartitions()
    assert parallelism <= n <= REBALANCE_MAX_FACTOR * parallelism
