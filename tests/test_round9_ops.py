"""Round-9 pins for the ADVICE findings: compact_parquet path-overlap
guard, dense DSIR ratio tables (no silent feature drops when scoring
with a sample-trained table), and the RP family's per-row dimension
assertion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- sinks


def test_compact_parquet_rejects_overlapping_paths(spark, tmp_path):
    from hadoop_tfidf_spark.sinks import compact_parquet

    src = str(tmp_path / "table")
    spark.range(10).write.parquet(src)
    # equal paths: the overwrite would delete the files the read needs
    with pytest.raises(ValueError, match="overlaps"):
        compact_parquet(spark, src, src)
    # output nested inside input
    with pytest.raises(ValueError, match="overlaps"):
        compact_parquet(spark, src, src + "/compacted")
    # input nested inside output
    with pytest.raises(ValueError, match="overlaps"):
        compact_parquet(spark, src, str(tmp_path))
    # trailing slashes / dot segments must not defeat the guard
    with pytest.raises(ValueError, match="overlaps"):
        compact_parquet(spark, src, src + "/")
    with pytest.raises(ValueError, match="overlaps"):
        compact_parquet(spark, src, str(tmp_path / "x" / ".." / "table"))
    # the source is untouched after every rejection
    assert spark.read.parquet(src).count() == 10
    # a genuine sibling still compacts
    out = str(tmp_path / "table_compacted")
    census = compact_parquet(spark, src, out)
    assert census["n_input_files"] >= 1
    assert spark.read.parquet(out).count() == 10


# ----------------------------------------------------------------- dsir


def test_dsir_ratios_table_is_dense_with_smoothed_prior(spark):
    """dsir_ratios emits ALL n_buckets rows; buckets the training corpus
    never produced carry exactly the add-k smoothed prior — so a
    sample-trained table never drops a feature at scoring time."""
    import math

    from hadoop_tfidf_spark.operators.sampling import (
        dsir_feature_buckets,
        dsir_ratios,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat here", "t"), (2, "stock market crash", "raw")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    n_buckets, k = 32, 0.5
    tab = {
        r.bucket: r.lr_u
        for r in dsir_ratios(
            train, F.col("source") == "t", n_buckets=n_buckets, k_smooth=k
        ).collect()
    }
    assert set(tab) == set(range(n_buckets))  # dense
    seen = {
        r.bucket
        for r in dsir_feature_buckets(train, n_buckets=n_buckets).collect()
    }
    assert seen < set(tab)  # training really left buckets empty
    # unseen buckets carry the smoothed prior (counts 0):
    # lr = log10(k/(n_t_tot+kb)) - log10(k/(n_raw_tot+kb))
    n_t_tot, n_raw_tot, kb = 3, 5, k * n_buckets
    prior_u = round(
        (
            math.log10(k / (n_t_tot + kb))
            - math.log10(k / (n_raw_tot + kb))
        )
        * 1_000_000
    )
    for b in set(tab) - seen:
        assert tab[b] == prior_u


def test_dsir_sample_trained_scoring_never_drops_features(spark):
    """The production shape — train on a sample, score held-out docs:
    n_feats equals the doc's true bigram count even when its buckets
    were absent from the training sample (the ADVICE finding)."""
    from hadoop_tfidf_spark.operators.sampling import (
        dsir_importance,
        dsir_ratios,
    )

    train = spark.createDataFrame(
        [(1, "alpha beta gamma", "t"), (2, "delta epsilon zeta", "raw")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    held_out = spark.createDataFrame(
        [(10, "totally novel ngrams everywhere now", "raw")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    ratios = dsir_ratios(train, F.col("source") == "t", n_buckets=64)
    row = dsir_importance(held_out, n_buckets=64, ratios=ratios).collect()[0]
    assert row.n_feats == 4  # five words -> four bigrams, none dropped
    assert row.dsir_logratio is not None


# ------------------------------------------------------------ rp guards


def test_random_projection_raises_on_dim_mismatch(spark):
    from hadoop_tfidf_spark.operators.similarity import (
        random_projection,
        rp_topk,
    )

    emb = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(Exception, match="random_projection.*!= in_dim 16"):
        random_projection(emb, out_dim=4, in_dim=16).collect()
    with pytest.raises(Exception, match="rp_topk.*!= in_dim 16"):
        rp_topk(emb, emb, k=1, candidates=2, out_dim=4, in_dim=16).collect()
    # the matching dimension still projects (no false trips)
    out = random_projection(emb, out_dim=4, in_dim=8).collect()
    assert len(out) == 1 and len(out[0].rp) == 4
    assert all(v is not None for v in out[0].rp)


# ------------------------------------------------------------------ bpe


def test_bpe_token_counts_byte_fallback_for_unseen_words(spark):
    """Billing a held-out corpus against a trained vocab: unseen words
    count length(word) fallback tokens via the left join (never silently
    dropped), n_fallback_words reports them, and train-corpus words
    still bill their merged symbol counts."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train

    train = spark.createDataFrame(
        [(1, "aaaa aaaa aab")], "doc_id BIGINT, text STRING"
    )
    merges, vocab = bpe_train(train, n_merges=2)
    assert merges[0] == ("a", "a")  # most frequent pair
    held_out = spark.createDataFrame(
        [(10, "aaaa zzz aab qx")], "doc_id BIGINT, text STRING"
    )
    row = bpe_token_counts(held_out, vocab).collect()[0]
    assert row.n_words == 4
    # aaaa/aab bill their trained symbolization; zzz -> 3 fallback
    # chars, qx -> 2 fallback chars
    syms = {r.word: len(r.symbols) for r in vocab.collect()}
    assert row.n_bpe_tokens == syms["aaaa"] + syms["aab"] + 3 + 2
    assert row.n_fallback_words == 2
    vocab.unpersist()


def test_bpe_token_counts_train_corpus_has_zero_fallback(spark):
    """On the training corpus itself every word has a vocab row — the
    fallback path fires zero times (counts identical to the former
    inner-join form)."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran far")],
        "doc_id BIGINT, text STRING",
    )
    _, vocab = bpe_train(docs, n_merges=3)
    rows = bpe_token_counts(docs, vocab).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(r.n_fallback_words == 0 for r in rows)
    vocab.unpersist()


# ---------------------------------------------------------- recall curve


def test_recall_curve_gate_fixture_rises(spark):
    """The declared sim_recall_curve query (clustered fixture) must show
    the rising curve the chart exists to demonstrate: every straddling
    query's recall strictly improves from nprobe=1 to nprobe=2 (one
    probed cell structurally cannot cover both straddled clusters) and
    never decreases thereafter."""
    from hadoop_tfidf_spark.extensions import (
        RECALL_CURVE_NPROBES,
        RECALL_STRADDLE_IDS,
        q_sim_recall_curve,
    )

    rows = q_sim_recall_curve(spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.recall_pct
    assert set(by_q) == set(RECALL_STRADDLE_IDS)
    for qid, curve in by_q.items():
        assert set(curve) == set(RECALL_CURVE_NPROBES)
        assert curve[2] > curve[1], f"query {qid}: curve must rise 1->2"
        assert curve[4] >= curve[2], f"query {qid}: curve must not fall"


# ------------------------------------------------------- RP-space IVFADC


def _clustered_rows(n=90, n_clusters=3, dim=16, amp=5.0, seed=9):
    import random

    rng = random.Random(seed)
    centers = [[amp * (c == d) for d in range(dim)] for c in range(n_clusters)]
    return [
        (
            i,
            [
                centers[i % n_clusters][d] + rng.uniform(-0.3, 0.3)
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]


def test_rp_ivfpq_clustered_data_recalls_own_cluster(spark):
    """The project-then-index retrieval must keep a query inside its own
    well-separated cluster: coarse cells + PQ codes both live in the
    8-dim RP space, yet every survivor of the full-dim re-rank shares
    the query's cluster."""
    from hadoop_tfidf_spark.operators.similarity import rp_ivfpq_topk

    emb = spark.createDataFrame(
        _clustered_rows(), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    out = rp_ivfpq_topk(
        emb, [0, 1, 2], k=8, candidates=12, nprobe=2,
        out_dim=8, in_dim=16, units=1000,
        coarse_k=4, coarse_iters=2, m=2, pq_k=8,
    ).collect()
    assert len(out) == 24
    for r in out:
        assert r.vec_id % 3 == r.query_id % 3  # same cluster


def test_rp_ivfpq_exact_rerank_matches_int_l2_when_candidates_cover(spark):
    """With a candidate budget generous enough to cover the true top-k,
    the exact full-dim re-rank must reproduce int_l2_topk verbatim —
    distances, tie-breaks and all (the compression only ever loses
    candidates, never reorders survivors)."""
    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        rp_ivfpq_topk,
    )

    emb = spark.createDataFrame(
        _clustered_rows(), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    queries = emb.where(F.col("vec_id").isin([0, 1]))
    approx = rp_ivfpq_topk(
        emb, [0, 1], k=5, candidates=60, nprobe=4,
        out_dim=8, in_dim=16, units=1000,
        coarse_k=4, coarse_iters=2, m=2, pq_k=8,
    )
    exact = int_l2_topk(emb, queries, k=5, units=1000)
    a = {(r.query_id, r.rn): (r.vec_id, r.d2_u) for r in approx.collect()}
    e = {(r.query_id, r.rn): (r.vec_id, r.d2_u) for r in exact.collect()}
    assert a == e


def test_rp_ivfpq_budget_monotone_and_shared_index(spark):
    """A larger stage-1 candidate budget can only add true neighbors
    (recall monotone in `candidates`), and probing a shared prebuilt
    index must equal the fresh-build search."""
    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        rp_ivfpq_build,
        rp_ivfpq_topk,
    )

    emb = spark.createDataFrame(
        _clustered_rows(n=60), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    kw = dict(
        nprobe=2, out_dim=8, in_dim=16, units=1000,
        coarse_k=4, coarse_iters=2, m=2, pq_k=8,
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in int_l2_topk(
            emb, emb.where(F.col("vec_id").isin([0, 1, 2])), k=5, units=1000
        ).collect()
    }
    index = rp_ivfpq_build(
        emb, out_dim=8, in_dim=16, units=1000,
        coarse_k=4, coarse_iters=2, m=2, pq_k=8,
    )
    hits = {}
    for budget in (6, 20):
        got = {
            (r.query_id, r.vec_id)
            for r in rp_ivfpq_topk(
                emb, [0, 1, 2], k=5, candidates=budget, index=index, **kw
            ).collect()
        }
        hits[budget] = len(got & exact)
    assert hits[20] >= hits[6]
    fresh = {
        (r.query_id, r.vec_id, r.d2_u, r.rn)
        for r in rp_ivfpq_topk(
            emb, [0, 1, 2], k=5, candidates=20, **kw
        ).collect()
    }
    shared = {
        (r.query_id, r.vec_id, r.d2_u, r.rn)
        for r in rp_ivfpq_topk(
            emb, [0, 1, 2], k=5, candidates=20, index=index, **kw
        ).collect()
    }
    assert fresh == shared


# ------------------------------------------------- perceptual image dedup


def _ppm(cells, w=4, h=4):
    """Raw 4x4 binary PPM where pixel (y,x) is gray value cells[y*4+x]
    on all three channels — with grid=4 each pixel IS one aHash cell."""
    body = bytes(
        v for y in range(h) for x in range(w) for v in [cells[y * w + x]] * 3
    )
    return b"P6 %d %d 255\n" % (w, h) + body


def _media(spark, rows):
    from hadoop_tfidf_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(
        [(i, p, "image/x-portable-pixmap") for i, p in rows], MEDIA_SCHEMA
    )


def test_media_phash_expected_bits(spark):
    """On a uniform-cell image the hash is exactly the bright-cell mask
    (strict mean compare: bright cells beat the mean, dim ones don't)."""
    from hadoop_tfidf_spark.operators.multimodal import media_phash

    bright = {0, 5, 10, 15}  # the diagonal
    cells = [200 if i in bright else 10 for i in range(16)]
    out = media_phash(_media(spark, [(1, _ppm(cells))])).collect()
    assert len(out) == 1
    assert out[0].phash == sum(1 << b for b in bright)
    assert (out[0].width, out[0].height) == (4, 4)


def test_phash_dedup_keeps_lowest_id(spark):
    from hadoop_tfidf_spark.operators.multimodal import phash_dedup

    a = [200 if i < 4 else 10 for i in range(16)]
    c = [200 if i >= 12 else 10 for i in range(16)]
    rows = phash_dedup(
        _media(spark, [(7, _ppm(a)), (3, _ppm(a)), (9, _ppm(c))])
    ).collect()
    got = {r.doc_id: (r.is_dup, r.keep) for r in rows}
    assert got == {3: (1, 1), 7: (1, 0), 9: (0, 1)}


def test_phash_near_pairs_hamming_and_banding(spark):
    import pytest as _pt

    from hadoop_tfidf_spark.operators.multimodal import phash_near_pairs

    base = {0, 5, 10, 15}
    a = [200 if i in base else 10 for i in range(16)]
    b = list(a)                      # identical -> hamming 0
    c = [200 if i in (base | {2}) else 10 for i in range(16)]  # hamming 1
    d = [10 if i in base else 200 for i in range(16)]  # complement, far
    media = _media(
        spark, [(1, _ppm(a)), (2, _ppm(b)), (3, _ppm(c)), (4, _ppm(d))]
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in phash_near_pairs(media, max_hamming=1).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}
    # pigeonhole guarantee: 4 bands cannot promise hamming<=4
    with _pt.raises(ValueError, match="bands"):
        phash_near_pairs(media, max_hamming=4)


# --------------------------------------------------- temperature mixture


def _mix_docs(spark):
    rows = []
    did = 0
    for src, n, words in (("big", 40, 20), ("mid", 10, 20), ("rare", 5, 20)):
        for _ in range(n):
            rows.append((did, " ".join(f"w{i}" for i in range(words)), src))
            did += 1
    return spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, source STRING"
    )


def test_temperature_rates_tau1_is_natural_mixture(spark):
    """τ=1 keeps the natural mixture: the realized rate is the same
    constant 100·B/Σn for every stratum (share ∝ size cancels size) —
    up to ±1 from the 6-decimal share quantization the hash gate
    requires (0.1818181... rounds DOWN before the floor)."""
    from hadoop_tfidf_spark.operators.sampling import temperature_rates

    rows = temperature_rates(
        _mix_docs(spark), tau=1.0, budget_tokens=220, strata=["source"]
    ).collect()
    rates = {r.source: r.rate_pct for r in rows}
    # Σn = 1100 tokens, B=220 -> ~20% everywhere
    assert max(rates.values()) - min(rates.values()) <= 1
    assert rates["big"] == 20


def test_temperature_rates_flatten_and_clamp(spark):
    """τ<1 boosts rare strata (monotonically decreasing rate in stratum
    size) and a budget beyond a stratum's size clamps at 100 — a
    sampler never upsamples."""
    from hadoop_tfidf_spark.operators.sampling import temperature_rates

    docs = _mix_docs(spark)
    rows = temperature_rates(
        docs, tau=0.5, budget_tokens=400, strata=["source"]
    ).collect()
    got = {r.source: r.rate_pct for r in rows}
    assert got["rare"] > got["mid"] > got["big"]
    shares = {r.source: r.temp_share for r in rows}
    assert shares["big"] < 3 * shares["rare"]  # sqrt damping: 8x size -> <3x share
    clamped = {
        r.source: r.rate_pct
        for r in temperature_rates(
            docs, tau=0.5, budget_tokens=2000, strata=["source"]
        ).collect()
    }
    assert clamped["rare"] == 100  # target > stratum size -> clamp


def test_mixture_sample_is_deterministic_subset(spark):
    from hadoop_tfidf_spark.operators.sampling import (
        stratified_hash_sample,
        temperature_rates,
    )

    docs = _mix_docs(spark)
    rates = {
        r.source: int(r.rate_pct)
        for r in temperature_rates(
            docs, tau=0.5, budget_tokens=300, strata=["source"]
        ).collect()
    }
    a = {r.doc_id for r in
         stratified_hash_sample(docs, "doc_id", "source", rates).collect()}
    b = {r.doc_id for r in
         stratified_hash_sample(docs, "doc_id", "source", rates).collect()}
    assert a == b and a and a < {r.doc_id for r in docs.collect()}


# ------------------------------------------------------ PCA two-stage topk


def test_pca_topk_exact_when_candidates_cover(spark):
    """With a candidate budget covering the corpus, the PCA two-stage
    retrieval reproduces int_l2_topk verbatim (stage 1 only ever loses
    candidates; the exact re-rank orders survivors)."""
    from hadoop_tfidf_spark.operators.similarity import (
        int_l2_topk,
        pca_topk,
    )

    emb = spark.createDataFrame(
        _clustered_rows(n=60), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    queries = emb.where(F.col("vec_id").isin([0, 1]))
    approx = pca_topk(
        emb, queries, k=5, candidates=60,
        n_components=3, iters=6, units=1000, in_dim=16,
    )
    exact = int_l2_topk(emb, queries, k=5, units=1000)
    a = {(r.query_id, r.rn): (r.vec_id, r.d2_u) for r in approx.collect()}
    e = {(r.query_id, r.rn): (r.vec_id, r.d2_u) for r in exact.collect()}
    assert a == e


def test_pca_topk_clustered_recalls_own_cluster(spark):
    """On well-separated clusters the trained top-variance directions
    separate the clusters, so even a tight candidate budget keeps every
    survivor inside the query's own cluster."""
    from hadoop_tfidf_spark.operators.similarity import pca_topk

    emb = spark.createDataFrame(
        _clustered_rows(), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    queries = emb.where(F.col("vec_id").isin([0, 1, 2]))
    out = pca_topk(
        emb, queries, k=8, candidates=12,
        n_components=3, iters=6, units=1000, in_dim=16,
    ).collect()
    assert len(out) == 24
    for r in out:
        assert r.vec_id % 3 == r.query_id % 3


def test_streaming_phash_dedup_equals_batch_groups(spark):
    """The drained streaming perceptual-dup ledger equals the one-shot
    batch groups exactly — same hashes, sizes, and survivors — however
    the corpus was partitioned into micro-batches."""
    from hadoop_tfidf_spark.extensions import q_streaming_phash_dedup
    from hadoop_tfidf_spark.operators.multimodal import (
        media_phash,
        with_binary_payload,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.phash: (r.n_docs, r.keep_doc_id)
        for r in q_streaming_phash_dedup(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    want = {
        r.phash: (r.n, r.keep)
        for r in media_phash(with_binary_payload(docs))
        .groupBy("phash")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("doc_id").cast("bigint").alias("keep"),
        )
        .collect()
    }
    assert got == want and got


# ------------------------------------------------------------ audio modality


def _wav(samples, sr=8000):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_audio_exact_sums_and_chunk_walk(spark):
    """Hand-built PCM16 WAVs decode to exact header fields and sample
    sums; chunk order doesn't matter (data before fmt is legal RIFF)."""
    import struct

    from hadoop_tfidf_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio,
    )

    samples = [100, -200, 300, -32768, 32767]
    # a second payload with the data chunk FIRST
    data = b"".join(struct.pack("<h", s) for s in samples)
    swapped = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"data" + struct.pack("<I", len(data)) + data
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 4000, 8000, 2, 16)
    )
    media = spark.createDataFrame(
        [(1, _wav(samples), "audio/x-wav"), (2, swapped, "audio/x-wav")],
        MEDIA_SCHEMA,
    )
    got = {r.doc_id: r for r in decode_audio(media).collect()}
    for did, sr in ((1, 8000), (2, 4000)):
        r = got[did]
        assert (r.sample_rate, r.n_samples) == (sr, 5)
        assert r.sum_samples == sum(samples)
        assert r.sum_abs == sum(abs(s) for s in samples)
    assert got[1].n_bytes == 44 + 10


def test_decode_audio_rejects_malformed(spark):
    from hadoop_tfidf_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio,
    )

    media = spark.createDataFrame(
        [(1, b"RIFX" + b"\x00" * 40, "audio/x-wav")], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="RIFF/WAVE"):
        decode_audio(media).collect()


def test_resample_audio_decimates_and_upsamples(spark):
    """target < sr picks every k-th sample (position-weighted checksum
    pinned by hand); target > sr repeats source samples, nearest
    neighbor on the time axis."""
    from hadoop_tfidf_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resample_audio,
    )

    samples = [10, 20, 30, 40, 50, 60, 70, 80]
    media = spark.createDataFrame(
        [(1, _wav(samples, sr=8000), "audio/x-wav")], MEDIA_SCHEMA
    )
    down = resample_audio(media, target_rate=4000).collect()[0]
    # out_n = 8*4000//8000 = 4; src = (i*8)//4 -> samples 10,30,50,70
    assert down.out_samples == 4
    assert down.checksum == 10 * 1 + 30 * 2 + 50 * 3 + 70 * 4
    up = resample_audio(media, target_rate=16000).collect()[0]
    # out_n = 16; src = (i*8)//16 -> each sample twice
    assert up.out_samples == 16
    assert up.checksum == sum(
        samples[(i * 8) // 16] * (i + 1) for i in range(16)
    )


def test_temperature_rates_zero_token_stratum_is_rate_zero(spark):
    """A stratum whose every doc has empty text has nothing to sample:
    rate_pct is 0 by definition rather than a NaN division (which would
    be an ANSI cast error downstream)."""
    from hadoop_tfidf_spark.operators.sampling import temperature_rates

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3", "full"), (2, "", "empty"), (3, "", "empty")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    got = {
        r.source: (r.n_tokens, r.rate_pct)
        for r in temperature_rates(
            docs, tau=0.5, budget_tokens=100, strata=["source"]
        ).collect()
    }
    assert got["empty"] == (0, 0)
    assert got["full"][1] > 0
