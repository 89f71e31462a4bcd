"""Round-14 pins: ledger auto-compaction policy + single-writer/replay
guards, parameterized Bloom geometry (production sizing + saturation
accounting), and the delta-signature ledger schema contract."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE

# ------------------------------------------------ ledger compact_every


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k STRING, n BIGINT")


def _state(spark, sink):
    from hadoop_tfidf_spark.streaming.ledger import (
        read_ledger,
        reconstruct_latest,
    )

    return sorted(
        map(
            tuple,
            reconstruct_latest(read_ledger(spark, sink), ["k"]).collect(),
        )
    )


def test_compact_every_bounds_generation_count(spark, tmp_path):
    """SCALE.md's "compact every Nth commit" policy, wired into the sink:
    an N+k-commit stream never ends with more than N+1 generations, and
    reconstruction equals an uncompacted twin's at every commit."""
    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_generations,
        ledger_upsert,
    )

    sink = str(tmp_path / "auto")
    plain = str(tmp_path / "plain")
    up = ledger_upsert(sink, keys=["k"], compact_every=3)
    up_plain = ledger_upsert(plain)
    mkdf = lambda b: _mk(spark, [(f"k{b % 4}", b), ("hot", b * 10)])
    for b in range(8):  # commits 0..7: folds (<= B-1) after batches 2, 5
        up(mkdf(b), b)
        up_plain(mkdf(b), b)
        assert _state(spark, sink) == _state(spark, plain)
        assert len(ledger_generations(sink)) <= 4  # N + 1
    # batch 5's fold covers <= 4 (NOT 5 itself): base at 4, then 5..7
    assert ledger_generations(sink) == [4, 5, 6, 7]
    assert len(ledger_generations(plain)) == 8
    # THE replay-wedge regression (the reason the fold point is B-1):
    # a crash between batch 5's inline fold and its checkpoint commit
    # re-delivers batch 5 — the replay must overwrite its own dir and
    # re-run the fold as a no-op, never hit a _COMPACTED marker
    up(mkdf(5), 5)
    assert ledger_generations(sink) == [4, 5, 6, 7]
    assert _state(spark, sink) == _state(spark, plain)


def test_compact_every_requires_keys(tmp_path):
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert

    with pytest.raises(ValueError, match="keys"):
        ledger_upsert(str(tmp_path / "x"), compact_every=3)


# -------------------------------------- single-writer / replay guards


def test_replay_of_compacted_base_fails_loudly(spark, tmp_path):
    """The one interleaving where overwrite-idempotence is NOT enough: a
    stream restarted from a pre-compaction checkpoint re-delivers the
    batch_id the fold landed on — overwriting the merged base would
    silently lose every folded row. The marker makes it loud."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("b", 2)]), 1)
    up(_mk(spark, [("a", 3)]), 2)
    compact_ledger(spark, sink, ["k"], through=2)
    want = _state(spark, sink)
    with pytest.raises(RuntimeError, match="compacted base"):
        up(_mk(spark, [("a", 3)]), 2)  # replay of the folded batch_id
    assert _state(spark, sink) == want  # nothing was overwritten


def test_replay_of_pre_base_generation_is_value_safe(spark, tmp_path):
    """A replayed batch_id STRICTLY BELOW the fold point recreates its
    dir, but the base generation still shadows it in reconstruction
    (deterministic replay content == what was folded) — allowed, and
    state-invariant."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("a", 2), ("b", 5)]), 1)
    up(_mk(spark, [("c", 7)]), 2)
    compact_ledger(spark, sink, ["k"], through=2)
    want = _state(spark, sink)
    up(_mk(spark, [("a", 2), ("b", 5)]), 1)  # same deterministic content
    assert _state(spark, sink) == want


def test_upsert_during_covering_compaction_fails_loudly(spark, tmp_path):
    """A compaction covering this batch_id is mid-flight (tmp dir
    stamped at t >= batch_id): writing now could be silently folded
    away — refuse. A NEWER batch is untouched by the swap and writes
    through."""
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    os.makedirs(f"{sink}/_compact_tmp_through=5")
    with pytest.raises(RuntimeError, match="in\\s+flight"):
        up(_mk(spark, [("a", 2)]), 3)  # 3 <= 5: covered by the fold
    up(_mk(spark, [("a", 9)]), 6)  # 6 > 5: safe
    os.rmdir(f"{sink}/_compact_tmp_through=5")
    assert _state(spark, sink) == [("a", 9)]


def test_two_tmp_dirs_raise_instead_of_guessing(spark, tmp_path):
    """Two stamped tmp dirs = the single-writer contract was violated;
    recovery must not pick one arbitrarily (it could rename a stale
    base into place) — it raises with both paths listed."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("a", 2)]), 1)
    os.makedirs(f"{sink}/_compact_tmp_through=0")
    os.makedirs(f"{sink}/_compact_tmp_through=1")
    with pytest.raises(RuntimeError, match="single-writer"):
        compact_ledger(spark, sink, ["k"], through=1)


def test_compacted_marker_travels_and_is_invisible_to_reads(spark, tmp_path):
    """The marker lands inside the folded base dir (underscore-prefixed,
    ignored by parquet reads) and survives the swap rename."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("b", 2)]), 1)
    before = _state(spark, sink)
    compact_ledger(spark, sink, ["k"], through=1)
    assert os.path.exists(f"{sink}/batch_id=1/_COMPACTED")
    assert _state(spark, sink) == before
    assert not glob.glob(f"{sink}/_compact_tmp_through=*")


# ------------------------------------------------ Bloom geometry


def test_bloom_geometry_sizing():
    from hadoop_tfidf_spark.functions.text import bloom_geometry

    bits, hashes = bloom_geometry(1000, bits_per_key=10)
    assert bits >= 10_000 and bits % 32 == 0
    assert hashes == 7  # round(ln2 * 10)
    # explicit hashes pass through; family-size cap applies
    assert bloom_geometry(10, bits_per_key=10, hashes=3)[1] == 3
    assert bloom_geometry(10, bits_per_key=40)[1] == 12  # capped at family
    with pytest.raises(ValueError):
        bloom_geometry(0)


def test_bloom_custom_geometry_round_trips(spark, tmp_path):
    """A filter built at non-default (bits, hashes) probes consistently:
    every true benchmark shingle hits (no false negatives ever), across
    both probe forms."""
    from hadoop_tfidf_spark.functions.text import (
        bloom_bitmap,
        bloom_geometry,
        contamination_bloom,
        contamination_bloom_stateless,
    )

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    bits, hashes = bloom_geometry(2000, bits_per_key=10)
    bm = bloom_bitmap(bench, k=3, bits=bits, hashes=hashes)
    # bits//32 packed words + the trailing -hashes geometry tag
    assert len(bm) == bits // 32 + 1 and bm[-1] == -hashes
    # one-sided error: a bench doc probed against its own filter is 100%
    # hits in BOTH probe forms
    agg = {
        r["doc_id"]: r
        for r in contamination_bloom(bench, bitmap=bm, hashes=hashes).collect()
    }
    stateless = {
        r["doc_id"]: r
        for r in contamination_bloom_stateless(
            bench, bm, hashes=hashes
        ).collect()
        if r["n_shingles"] > 0
    }
    assert agg and set(agg) == set(stateless)
    for d, row in agg.items():
        assert row["n_hits"] == row["n_shingles"]
        assert stateless[d]["n_hits"] == stateless[d]["n_shingles"]


def test_bloom_saturation_overdrops_one_sidedly(spark):
    """The failure mode VERDICT names, made visible: a deliberately
    undersized filter saturates (FP rate → 1) and decontamination
    over-drops — but NEVER under-drops (one-sided error, the safe
    direction). The accounting columns expose it: clean docs' n_hits
    climbs from ~0 to ~all shingles; production sizing restores a low
    FP rate."""
    from hadoop_tfidf_spark.functions.text import (
        bloom_bitmap,
        bloom_geometry,
        contamination_bloom,
    )

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    # clean docs from a vocabulary DISJOINT from the corpus: every Bloom
    # hit on them is a false positive by construction (real held-out
    # corpus docs share genuine 3-grams with the benchmark — true
    # positives that would pollute the FP measurement)
    clean = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(99)),
                lambda i: F.concat(
                    F.lit("qz"), (F.col("id") * 100 + i).cast("string")
                ),
            ),
        ).alias("text"),
    )

    def fp_rate(bits, hashes):
        bm = bloom_bitmap(bench, k=3, bits=bits, hashes=hashes)
        r = (
            contamination_bloom(clean, bitmap=bm, hashes=hashes)
            .agg(
                F.sum("n_hits").alias("h"), F.sum("n_shingles").alias("s")
            )
            .collect()[0]
        )
        return r["h"] / r["s"]

    n_bench = (
        bench.select(
            F.explode(F.split("text", " ")).alias("w")
        ).count()
    )  # upper bound on distinct shingles — cheap ceiling estimate
    tiny = fp_rate(256, 4)  # 256 bits for thousands of shingles
    sized = fp_rate(*bloom_geometry(n_bench, bits_per_key=10))
    assert tiny > 0.9  # saturated: nearly every clean shingle "hits"
    assert sized < 0.05  # production sizing: ~1% FP
    # default geometry is UNCHANGED by the parameterization — the gate
    # row's exact bitmap shape
    from hadoop_tfidf_spark.functions.text import BLOOM_BITS, BLOOM_HASHES

    assert (BLOOM_BITS, BLOOM_HASHES) == (1 << 16, 4)


def test_bloom_mismatched_geometry_rejected(spark):
    from hadoop_tfidf_spark.functions.text import (
        contamination_bloom_stateless,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id INT, text STRING")
    with pytest.raises(ValueError, match="bits"):
        contamination_bloom_stateless(docs, [], k=3)  # empty bitmap
    with pytest.raises(ValueError, match="hashes"):
        contamination_bloom_stateless(docs, [0] * 64, k=3, hashes=99)


# ------------------------------------ delta-signature schema contract


def test_delta_signatures_tolerates_wider_stored_ledger(spark):
    """The production recipe stores md5(text) (and whatever else) in the
    signature ledger; delta_signatures must project the carried side
    onto the signature schema instead of letting unionByName throw."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") < 40)
    new = docs.where(F.col("doc_id") < 50)
    stored = D.minhash_signatures(D.shingles(old)).withColumn(
        "text_hash", F.lit("deadbeef")
    )
    got = sorted(
        map(
            tuple,
            D.delta_signatures(
                stored, D.corpus_diff(old, new), new
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, D.minhash_signatures(D.shingles(new)).collect())
    )
    assert got == want


# ------------------------------ O(delta) ledger: no old-text scan


def test_delta_sign_equals_from_scratch_via_parquet_ledger(spark, tmp_path):
    """write_generation → read_generation → delta_sign round-trips to
    exactly sign_generation(new) — carried rows (incl. NULL-signature
    short docs) bit-equal a full re-sign."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    root = str(tmp_path / "sigs")
    D.write_generation(D.sign_generation(old), root, 0)
    out = D.delta_sign(D.read_generation(spark, root, 0), new)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, D.sign_generation(new).collect()))
    assert got == want
    # and the advanced generation lands beside gen 0
    D.write_generation(out, root, 1)
    assert sorted(
        map(tuple, D.read_generation(spark, root, 1).collect())
    ) == want


def test_delta_sign_plan_never_scans_old_text(spark, tmp_path):
    """THE O(delta) property: with the gen-0 ledger stored, advancing to
    gen 1 must not read the old generation's text at all — the old docs
    parquet appears NOWHERE in the plan (its hashes come from the
    ledger), and the only text scans are the new crawl's."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old_path = str(tmp_path / "old_docs.parquet")
    docs.where(F.col("doc_id") % 10 != 0).write.parquet(old_path)
    root = str(tmp_path / "sigs")
    D.write_generation(
        D.sign_generation(spark.read.parquet(old_path)), root, 0
    )
    new = docs.where(F.col("doc_id") % 13 != 0)
    out = D.delta_sign(D.read_generation(spark, root, 0), new)
    # inputFiles() is the untruncatable census (plan strings elide long
    # Locations): every file feeding the plan is either the stored
    # ledger or the NEW crawl — never the old generation's text
    files = out.inputFiles()
    assert files and not any("old_docs.parquet" in f for f in files)
    assert any("sigs/generation=0" in f for f in files)  # the stored side
    # and the diff-side ledger scan prunes to the slim hash columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text_hash:string>" in plan


# ------------------------------------------------ sample-trained IVF


def test_ivf_build_train_subset(spark):
    """ivf_build(train=…): train=full is bit-identical to the default;
    a strict subset changes the centroids (non-vacuous) while the FINAL
    assignment still covers every corpus vector."""
    from hadoop_tfidf_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    a_full, c_full = S.ivf_build(emb, k=8, iters=1, units=1_000_000)
    a_same, c_same = S.ivf_build(emb, k=8, iters=1, units=1_000_000,
                                 train=emb)
    assert c_full == c_same
    assert sorted(map(tuple, a_full.collect())) == sorted(
        map(tuple, a_same.collect())
    )
    sub = emb.where(F.col("vec_id") % 3 != 2)
    a_sub, c_sub = S.ivf_build(emb, k=8, iters=1, units=1_000_000,
                               train=sub)
    assert c_sub != c_full  # the sample actually drove the statistics
    assert a_sub.count() == emb.count()  # assignment is corpus-complete
    # every vector's cell is the argmin over the sample-trained matrix
    got = (
        a_sub.select(
            "vec_id",
            F.element_at(
                S.nearest_centroid_ids(
                    F.col("embedding"), c_sub, 1, 1_000_000
                ),
                1,
            ).alias("cell"),
            "cluster",
        )
        .where(F.col("cell") != F.col("cluster"))
        .count()
    )
    assert got == 0


# --------------------------------- review-pass regressions (round 14b)


def test_bloom_geometry_rejects_dead_lanes():
    """Positions are mod M31, so bits beyond it can never be set — the
    sizing helper and the probe both refuse instead of silently
    allocating dead lanes with a degraded FP rate."""
    from hadoop_tfidf_spark.functions.text import bloom_geometry
    from hadoop_tfidf_spark.operators.dedup import M31

    # 3·10⁹ requested bits > M31: refuse with the sharding pointer
    with pytest.raises(ValueError, match="shard"):
        bloom_geometry(300_000_000, bits_per_key=10)
    # the largest legal geometry still sizes
    bits, _ = bloom_geometry(100_000_000, bits_per_key=10)
    assert bits <= M31


def test_delta_signatures_membership_matches_from_scratch(spark):
    """A sign_generation-style stored ledger carries NULL-signature rows
    for sub-k-word docs; delta_signatures must NOT leak them into its
    output (the from-scratch contract has no such rows)."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "hi"), (3, "one two three")],
        "doc_id BIGINT, text STRING",
    )
    stored = D.sign_generation(docs)  # doc 2 carries NULL signatures
    assert stored.where(F.col("mh_0").isNull()).count() == 1
    out = D.delta_signatures(stored, D.corpus_diff(docs, docs), docs)
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, D.minhash_signatures(D.shingles(docs)).collect())
    )
    assert got == want  # no phantom NULL row for unchanged doc 2


def test_ivfpq_topk_requires_some_query_input(spark):
    from hadoop_tfidf_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    assigned, cents = S.ivf_build(emb, k=8, iters=1, units=1_000_000)
    codes, books = S.pq_build(emb, m=4, k=8, iters=1, units=1_000_000,
                              pack=True)
    with pytest.raises(ValueError, match="query_ids.*or queries"):
        S.ivfpq_topk(assigned, cents, codes, books, None)


def test_ivfpq_bulk_recall_floor_vs_exact(spark):
    """Candidate-budget sanity for the bulk two-stage: with half the
    coarse cells probed and an 8x-k candidate budget, the kNN graph's
    mean recall@5 vs the exact integer-L2 ranking clears 0.5 (the same
    floor the interactive recall audits pin; exactness of the re-rank
    means every recalled id also carries the exact distance). This is
    the budget-sizing dial the bulk job tunes: at nprobe=4/8 cells and
    candidates=20 the same fixture measures ~0.44 — probing more cells
    buys the recall back."""
    from hadoop_tfidf_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    assigned, cents, codes, books = S.ivfpq_build_residual(
        emb, coarse_k=8, coarse_iters=1, m=4, k=8, iters=1,
        units=1_000_000, pack=True,
    )
    approx = S.ivfpq_bulk_topk(
        assigned, cents, codes, books, emb, k=5, candidates=40, nprobe=6,
        units=1_000_000,
    ).select("query_id", "vec_id")
    exact = S.int_l2_topk(emb, emb, k=5, units=1_000_000).select(
        F.col("query_id"), F.col("vec_id").alias("true_id")
    )
    hits = approx.join(
        exact,
        (approx.query_id == exact.query_id)
        & (approx.vec_id == exact.true_id),
    ).count()
    n_q = 200
    recall = hits / (n_q * 5)
    assert recall >= 0.5, recall
