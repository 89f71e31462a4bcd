"""Round-8 scale-tail regression tests: the last latent tail from the
round-7 verdict — the sliding-span word-coverage filter — plus pins for
the interval-merge semantics that replaced the per-start ``exists``."""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def test_span_sliding_all_boilerplate_giant_page_is_linear(spark):
    """The planted outlier from VERDICT r7 "What's wrong #1": a page that
    is ENTIRELY duplicated boilerplate (two identical 100k-word docs).
    Under the old per-start ``exists`` filter, dup_starts ≈ words/stride
    = 50k and every one of the 100k words scanned all of them —
    O(words²/stride) ≈ 5e9 comparisons pinned on one task row. The
    interval-merged form collapses the 50k starts into ONE region and
    the filter is linear; the whole job must finish in seconds."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    # 99,999 words: last start (len-span+1 = 99995) is odd, so the
    # stride-2 start set reaches it and every word is span-covered
    giant = " ".join(f"w{i}" for i in range(99_999))
    docs = spark.createDataFrame(
        [(1, giant), (2, giant), (3, "small clean doc entirely unique")],
        "doc_id BIGINT, text STRING",
    )
    t0 = time.time()
    got = {
        r.doc_id: r
        for r in span_dedup(docs, span_words=5, stride=2).collect()
    }
    assert time.time() - t0 < 60  # old per-start exists: ~hours
    # every span of docs 1/2 occurs in the other → one region covers all
    assert got[1].n_spans == got[1].n_dup_spans > 0
    assert got[1].clean_text == "" and got[2].clean_text == ""
    assert got[3].n_dup_spans == 0
    assert got[3].clean_text == "small clean doc entirely unique"


def test_span_sliding_disjoint_regions_pin(spark):
    """Two dup phrases separated by unique words: dup starts [1, 13] with
    span 5 → gap 12 > 5 → TWO disjoint regions [1,5] and [13,17]; only
    the unique middle survives. Pins the region-break condition."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    p1 = "alpha beta gamma delta epsilon"            # words 1-5
    mid = "u1 u2 u3 u4 u5 u6 u7"                     # words 6-12
    p2 = "zeta eta theta iota kappa"                 # words 13-17
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {mid} {p2}"),
            (2, f"{p1} j1 j2 j3 j4 j5"),
            (3, f"{p2} k1 k2 k3 k4 k5"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r.doc_id: r
        for r in span_dedup(docs, span_words=5, stride=2).collect()
    }
    # doc1 starts: 1,3,5,7,9,11,13 — dup at 1 (p1, shared with doc2) and
    # 13 (p2, shared with doc3)
    assert got[1].n_spans == 7 and got[1].n_dup_spans == 2
    assert got[1].clean_text == mid


def test_span_sliding_adjacent_regions_merge_pin(spark):
    """Back-to-back dup phrases: dup starts [1, 6] with span 5 → gap
    exactly == span → merged into ONE region [1,10], coverage identical
    to the two un-merged intervals. Pins the adjacency-merge case."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    p1 = "alpha beta gamma delta epsilon"            # words 1-5
    p2 = "zeta eta theta iota kappa"                 # words 6-10
    tail = "t1 t2 t3"                                # words 11-13
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2} {tail}"),
            (2, f"{p1} j1 j2 j3 j4 j5"),
            (3, f"k0 {p2} k1 k2 k3 k4"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r.doc_id: r
        for r in span_dedup(docs, span_words=5, stride=1).collect()
    }
    # doc1: starts 1..9; dup at 1 (p1 = doc2 start 1) and 6 (p2 = doc3
    # start 2). Merged region [1,10]; only the tail survives.
    assert got[1].n_dup_spans == 2
    assert got[1].clean_text == tail


def test_staged_source_caches_per_key():
    """staged_source() materializes once per key per process, reuses the
    dir on a second call with the same key, rebuilds if the cached dir
    vanished, and keeps distinct keys separate; cleanup empties both the
    cache and the dirs."""
    import os
    import shutil

    from hadoop_tfidf_spark.streaming.windows import (
        _STAGED_SOURCES,
        _cleanup_staging_dirs,
        staged_source,
    )

    calls = []

    def writer(p):
        calls.append(p)
        with open(os.path.join(p, "part-0"), "w") as f:
            f.write("x")

    k1 = ("events", "/sf", "default")
    d1 = staged_source(k1, writer, prefix="spark_graft_test_")
    d1_again = staged_source(k1, writer, prefix="spark_graft_test_")
    assert d1 == d1_again and len(calls) == 1  # cached, no rewrite
    d2 = staged_source(("events", "/sf", "ordered1"), writer,
                       prefix="spark_graft_test_")
    assert d2 != d1 and len(calls) == 2  # distinct variant, own dir
    shutil.rmtree(d1)  # externally removed → rebuilt, not returned stale
    d1_rebuilt = staged_source(k1, writer, prefix="spark_graft_test_")
    assert os.path.isdir(d1_rebuilt) and len(calls) == 3
    _cleanup_staging_dirs()
    assert not _STAGED_SOURCES
    assert not os.path.isdir(d1_rebuilt) and not os.path.isdir(d2)


def test_sim_recall_audit_contract(spark):
    """Recall-audit declared query: per-query row, full k returned,
    hits bounded by k, recall_pct consistent with n_hits, distance sums
    positive, ratio finite. Exactness vs DuckDB is pinned by the hash
    gate; this pins the shape and internal consistency. (On the random
    synthetic embeddings recall at nprobe=2/16 is legitimately low —
    that's the telemetry working, not a bug; the clustered-data recall
    semantics are pinned in test_ivf.test_ivfpq_recall_vs_brute.)"""
    from hadoop_tfidf_spark.extensions import SIM_K, SIM_QUERY_IDS, q_sim_recall_audit

    rows = q_sim_recall_audit(spark, "/root/testdata/sf0.001").collect()
    assert sorted(r.query_id for r in rows) == sorted(SIM_QUERY_IDS)
    for r in rows:
        assert r.n_returned == SIM_K
        assert 0 <= r.n_hits <= SIM_K
        assert r.recall_pct == (100 * r.n_hits) // SIM_K
        assert r.sum_adc_d2 > 0 and r.sum_exact_d2 > 0
        assert r.adc_exact_ratio is not None and 0 < r.adc_exact_ratio < 2


def test_semantic_dedup_planted_paraphrases(spark):
    """SemDeDup operating point: 4 well-separated clusters of 20 vectors
    each, with planted near-identical 'paraphrase' copies of three
    members. At threshold 0.99999 only the planted twins clear the bar
    (the tightest ordinary same-cluster neighbor in this fixture sits at
    cos 0.999743); the lowest-id member of each twin pair survives, the
    copy is dropped, and everything else keeps."""
    import random

    from hadoop_tfidf_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    rows = []
    for c in range(4):
        base = [10.0 * (1 if (c >> d) & 1 else -1) for d in range(8)]
        for i in range(20):
            rows.append(
                (c * 20 + i, [base[d] + rng.uniform(-1, 1) for d in range(8)])
            )
    # planted paraphrases: near-identical copies with new (higher) ids
    originals = [0, 21, 45]
    for j, orig in enumerate(originals):
        rows.append(
            (
                100 + j,
                [x + rng.uniform(-0.01, 0.01) for x in rows[orig][1]],
            )
        )
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {
        r.vec_id: r
        for r in semantic_dedup(
            emb, k=4, iters=2, units=1_000_000, threshold=0.99999
        ).collect()
    }
    assert len(got) == 83
    for j, orig in enumerate(originals):
        copy = 100 + j
        # twin pair lands in the same cell and is mutually flagged
        assert got[copy].cluster == got[orig].cluster
        assert got[orig].n_sem_dups >= 1 and got[copy].n_sem_dups >= 1
        # lowest id survives, the paraphrase copy is dropped
        assert got[orig].keep == 1
        assert got[copy].keep == 0
    # nothing else was deduped
    dropped = {v for v, r in got.items() if r.keep == 0}
    assert dropped == {100, 101, 102}


def test_recall_curve_rises_on_straddling_queries(spark):
    """The recall-vs-nprobe curve rises when true neighbors straddle
    coarse cells: the query sits midway between two well-separated
    cluster centers (nudged toward A so the probe order is
    deterministic), so its exact-L2 top-20 mixes members of BOTH
    clusters. nprobe=1 probes only A's cell and structurally cannot
    return B's members; nprobe=2 probes both, so recall against the
    exact-L2 truth must strictly improve. Truth is computed in plain
    Python (deterministic fixture, fixed seed) — ADC approximates L2,
    so L2 is the right reference for the probe sweep."""
    import random

    from hadoop_tfidf_spark.operators.similarity import (
        ivfpq_build_residual,
        ivfpq_topk,
    )

    rng = random.Random(3)
    centers = {
        c: [12.0 * (1 if (c >> d) & 1 else -1) for d in range(8)]
        for c in range(4)
    }
    rows = []
    # ids INTERLEAVED across clusters so the deterministic seeds (first
    # coarse_k vectors by id) span all four natural clusters and Lloyd
    # converges onto them
    for i in range(24):
        for c in range(4):
            rows.append(
                (i * 4 + c,
                 [centers[c][d] + rng.uniform(-1, 1) for d in range(8)])
            )
    # query 900: midpoint of clusters 0 and 1, nudged 2% toward 0
    mid = [0.51 * centers[0][d] + 0.49 * centers[1][d] for d in range(8)]
    rows.append((900, mid))
    k = 20
    truth = sorted(
        (r for r in rows if r[0] != 900),
        key=lambda r: sum((a - b) ** 2 for a, b in zip(r[1], mid)),
    )[:k]
    truth_ids = {r[0] for r in truth}
    truth_clusters = {i % 4 for i in truth_ids}
    assert truth_clusters == {0, 1}  # the straddle is real, by geometry

    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    assigned, cents, codes, books = ivfpq_build_residual(
        emb, coarse_k=4, coarse_iters=2, m=4, k=8, iters=1,
        units=1000, pack=True,
    )
    recalls, got_sets = {}, {}
    for np_ in (1, 2):
        got_sets[np_] = {
            r.vec_id
            for r in ivfpq_topk(
                assigned, cents, codes, books, [900], k=k, nprobe=np_,
                units=1000, embeddings=emb, residual=True,
            ).collect()
        }
        recalls[np_] = len(got_sets[np_] & truth_ids) / k
    # one cell structurally cannot see cluster 1's true neighbors
    assert all(v % 4 == 0 for v in got_sets[1])
    assert recalls[1] < 1.0
    assert recalls[2] > recalls[1]


def test_semantic_dedup_megacell_cap(spark):
    """The megacell valve: one degenerate cell holds most of the corpus
    (every vector near one center, k seeds from it). With the cap
    engaged the oversized cell skips the pair test — its members come
    back keep=1 / n_sem_dups=0 / cell_capped=1 (conservative keep-all)
    — while a small healthy cell still dedups; uncapped, the same twins
    are caught. The flagged fraction is the re-cluster alarm."""
    import random

    from hadoop_tfidf_spark.operators.similarity import semantic_dedup

    rng = random.Random(9)
    rows = []
    # 30 vectors piled near one center (the megacell) + 4 outliers far
    # away (their own cell), with a planted twin in EACH group
    for i in range(30):
        rows.append((i, [5.0 + rng.uniform(-0.5, 0.5) for _ in range(8)]))
    rows[29] = (29, [x + rng.uniform(-1e-4, 1e-4) for x in rows[3][1]])
    for j in range(4):
        rows.append((100 + j, [-40.0 + rng.uniform(-0.5, 0.5)
                               for _ in range(8)]))
    rows[33] = (103, [x + rng.uniform(-1e-4, 1e-4) for x in rows[30][1]])
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    def run(cap):
        return {
            r.vec_id: r
            for r in semantic_dedup(
                emb, k=2, iters=2, units=1_000_000,
                threshold=0.999999, max_cell_size=cap,
            ).collect()
        }

    uncapped = run(None)
    assert all(r.cell_capped == 0 for r in uncapped.values())
    assert uncapped[29].keep == 0      # twin of 3 caught
    assert uncapped[103].keep == 0     # twin of 100 caught

    capped = run(10)  # megacell (~30) > 10 > outlier cell (4)
    big = [r for r in capped.values() if r.cell_capped == 1]
    assert len(big) >= 25              # the pile is flagged wholesale
    assert all(r.keep == 1 and r.n_sem_dups == 0 for r in big)
    assert capped[29].cell_capped == 1 and capped[29].keep == 1
    assert capped[103].keep == 0       # healthy small cell still dedups
    assert capped[103].cell_capped == 0


def test_bpe_pair_counts_hand_example(spark):
    """Pair counts over the word-frequency table, hand-pinned: corpus
    'low low low lower lowest' → pair (l,o) count 5, (o,w) 5,
    (w,e) 2, etc. Ordering is (count desc, left, right)."""
    from hadoop_tfidf_spark.functions.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lowest")],
        "doc_id BIGINT, text STRING",
    )
    got = {
        (r.left_sym, r.right_sym): r.pair_count
        for r in bpe_pair_counts(docs, top=100).collect()
    }
    assert got[("l", "o")] == 5 and got[("o", "w")] == 5
    assert got[("w", "e")] == 2
    assert got[("e", "r")] == 1 and got[("s", "t")] == 1


def test_bpe_train_merge_sequence(spark):
    """The trainer's merges on the classic corpus, hand-computed:
    (l,o)x5 ties (o,w)x5 → lexicographic picks (l,o); ('lo','w')x5
    dominates round 2; then ('low','e')x2 beats the x1 suffix pairs and
    ('lowe','r') closes. Also pins the non-overlap rule on
    'aaaa' → [aa, aa]."""
    from hadoop_tfidf_spark.functions.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lowest")],
        "doc_id BIGINT, text STRING",
    )
    merges, vocab = bpe_train(docs, n_merges=4)
    assert merges == [("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")]
    syms = {r.word: list(r.symbols) for r in vocab.collect()}
    assert syms["low"] == ["low"]
    assert syms["lower"] == ["lower"]
    assert syms["lowest"] == ["lowe", "s", "t"]
    vocab.unpersist()

    rep = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id BIGINT, text STRING")
    merges2, vocab2 = bpe_train(rep, n_merges=1)
    assert merges2 == [("a", "a")]
    assert [list(r.symbols) for r in vocab2.collect()] == [["aa", "aa"]]
    vocab2.unpersist()


def test_bpe_token_counts_hand_example(spark):
    """Per-doc counts under the trained tokenizer, hand-pinned on the
    classic corpus after 4 merges: low→1 symbol, lower→1, lowest→3
    ('lowe','s','t'); whitespace word counts unchanged."""
    from hadoop_tfidf_spark.functions.text import bpe_token_counts, bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lowest")],
        "doc_id BIGINT, text STRING",
    )
    _, vocab = bpe_train(docs, n_merges=4)
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_token_counts(docs, vocab).collect()
    }
    vocab.unpersist()
    assert got[1] == (3, 3)   # three 'low', each one merged symbol
    assert got[2] == (2, 4)   # 'lower'(1) + 'lowest'(3)


def _dsir_reference(rows, target_sources, n_buckets=64, k=0.5):
    """Independent pure-Python DSIR reference: same hashed-bigram
    features, add-k smoothing, and BIGINT micro-log quantization as
    operators/sampling.dsir_importance — but computed with dicts and
    hashlib, no Spark expressions shared."""
    import hashlib
    import math

    def bucket(bg):
        h = hashlib.md5(f"dsir:{bg}".encode()).hexdigest()
        return int(h[:15], 16) % n_buckets

    feats = {}  # doc_id -> [bucket...]
    n_raw, n_t = {}, {}
    for doc_id, text, source in rows:
        ws = text.split(" ")
        if len(ws) < 2:
            feats[doc_id] = []
            continue
        bs = [bucket(f"{a} {b}") for a, b in zip(ws, ws[1:])]
        feats[doc_id] = bs
        for b in bs:
            n_raw[b] = n_raw.get(b, 0) + 1
            if source in target_sources:
                n_t[b] = n_t.get(b, 0) + 1
    nr_tot, nt_tot = sum(n_raw.values()), sum(n_t.values())
    kb = k * n_buckets
    lr_u = {
        b: round(
            (
                math.log10((n_t.get(b, 0) + k) / (nt_tot + kb))
                - math.log10((n_raw[b] + k) / (nr_tot + kb))
            )
            * 1_000_000
        )
        for b in n_raw
    }
    out = {}
    for doc_id, bs in feats.items():
        if not bs:
            out[doc_id] = (0, None)
        else:
            out[doc_id] = (len(bs), round(sum(lr_u[b] for b in bs) / 1e6, 6))
    return out


def test_dsir_importance_matches_pure_python_reference(spark):
    """Exact equality (BIGINT micro-log units ⇒ order-free sums) between
    the Spark DSIR operator and an independently-written hashlib/math
    reference, incl. the <2-word NULL row."""
    from hadoop_tfidf_spark.operators.sampling import dsir_importance

    rows = [
        (1, "the cat sat on the mat", "trusted"),
        (2, "the cat sat on a log", "crawl"),
        (3, "stock market crash deep value", "crawl"),
        (4, "single", "crawl"),
        (5, "the cat sat on the mat again and again", "crawl"),
        (6, "the cat sat on the mat", "crawl"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    got = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(
            docs, F.col("source") == "trusted", n_buckets=16, k_smooth=0.01
        ).collect()
    }
    want = _dsir_reference(rows, {"trusted"}, n_buckets=16, k=0.01)
    assert got == want
    # a raw doc IDENTICAL to the target outranks the disjoint-domain one
    # (per-feature: the weight is a sum, so compare at equal n_feats
    # via the exact-copy doc, not the longer doc 5)
    assert got[6][1] > got[3][1]
    assert got[4] == (0, None)


def test_dsir_select_cut_is_deterministic_and_excludes_target(spark):
    from hadoop_tfidf_spark.operators.sampling import (
        dsir_importance,
        dsir_select,
    )

    rows = [(i, f"alpha beta w{i % 4} gamma", "t" if i % 5 == 0 else "raw")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    imp = dsir_importance(docs, F.col("source") == "t", n_buckets=32)
    raw_only = imp.join(
        docs.where(F.col("source") == "t").select("doc_id"), "doc_id", "left_anti"
    )
    sel = dsir_select(raw_only, top_n=10).collect()
    assert len(sel) == 10
    assert all(r.doc_id % 5 != 0 for r in sel)
    scores = [r.dsir_logratio for r in sel]
    assert scores == sorted(scores, reverse=True)
    # re-run → identical cut (content-addressed, no RNG)
    again = dsir_select(raw_only, top_n=10).collect()
    assert [r.doc_id for r in sel] == [r.doc_id for r in again]


def test_rp_project_matches_pure_python_reference(spark):
    """Exact equality between the Spark JL projection and an independent
    hashlib reference (signs re-derived, integer sums re-done in plain
    Python)."""
    import hashlib

    from hadoop_tfidf_spark.operators.similarity import random_projection

    vecs = [(i, [((i * 31 + d * 7) % 19 - 9) / 10.0 for d in range(8)])
            for i in range(20)]
    emb = spark.createDataFrame(vecs, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = {
        r.vec_id: list(r.rp)
        for r in random_projection(
            emb, out_dim=4, in_dim=8, units=1000, seed="rp"
        ).collect()
    }

    def sign(j, d):
        h = hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 2 == 0 else -1

    import numpy as np

    for i, v in vecs:
        # float32 storage then double cast, exactly like the engine
        u = [round(float(np.float32(x)) * 1000) for x in v]
        want = [sum(sign(j, d) * u[d] for d in range(8)) for j in range(4)]
        assert got[i] == want, i


def test_rp_distortion_concentrates_at_one(spark):
    """JL lemma sanity on synthetic data: across sampled pairs the
    projected/original squared-distance ratio averages ~1 (Rademacher
    projections are unbiased), and no ratio collapses to 0."""
    import random

    from hadoop_tfidf_spark.operators.similarity import rp_distortion

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(120)]
    emb = spark.createDataFrame(vecs, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    rows = rp_distortion(
        emb, out_dim=16, in_dim=32, units=1_000_000, sample_mod=3
    ).collect()
    assert len(rows) > 100  # ~40 sampled ids -> hundreds of pairs
    ratios = [r.rp_ratio for r in rows]
    assert all(r is not None and r > 0 for r in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean


def test_rp_distortion_identical_vectors_null_guard(spark):
    from hadoop_tfidf_spark.operators.similarity import rp_distortion

    emb = spark.createDataFrame(
        [(i, [0.5, -0.25, 0.125, 1.0]) for i in range(6)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    rows = rp_distortion(
        emb, out_dim=2, in_dim=4, sample_mod=1
    ).collect()
    assert len(rows) == 15  # all pairs of 6
    assert all(r.d2_orig_u == 0 and r.rp_ratio is None for r in rows)


def _pca_fixture_rows(n=150, d=8):
    """Anisotropic synthetic data: two dominant directions with distinct
    variances so the top eigenpair is well separated."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(n):
        a, b = rng.gauss(0, 1.0), rng.gauss(0, 0.4)
        base = [rng.gauss(0, 0.05) for _ in range(d)]
        base[0] += a
        base[1] += a * 0.5 + b
        rows.append((i, [max(-3.0, min(3.0, x)) for x in base]))
    return rows


def test_pca_power_build_matches_numpy_eigh(spark):
    """The integer power iteration recovers numpy's top eigenvectors of
    the biased covariance (|cos| > 0.99) and orders eigenvalues
    descending."""
    import numpy as np

    from hadoop_tfidf_spark.operators.similarity import pca_power_build

    rows = _pca_fixture_rows()
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    comps, lams, n = pca_power_build(emb, k=2, iters=12, units=10_000, in_dim=8)
    assert n == len(rows)

    X = np.asarray([v for _, v in rows], dtype=np.float32).astype(np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1]
    for c in range(2):
        v = np.asarray(comps[c], dtype=np.float64)
        ref = evecs[:, order[c]]
        cos = abs(v @ ref) / (np.linalg.norm(v) * np.linalg.norm(ref))
        assert cos > 0.99, (c, cos)
    assert lams[0] > lams[1] > 0
    # eigenvalue RATIO survives the rescaled-integer units
    assert abs(lams[0] / lams[1] - evals[order[0]] / evals[order[1]]) < 0.05


def test_pca_build_is_deterministic_and_integer(spark):
    from hadoop_tfidf_spark.operators.similarity import pca_power_build

    emb = spark.createDataFrame(
        _pca_fixture_rows(n=60), "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    a = pca_power_build(emb, k=2, iters=6, units=10_000, in_dim=8)
    b = pca_power_build(
        emb.repartition(7), k=2, iters=6, units=10_000, in_dim=8
    )
    assert a[0] == b[0] and a[1] == b[1]  # partitioning-invariant
    assert all(isinstance(x, int) for comp in a[0] for x in comp)


def test_pca_project_exact_dot(spark):
    from hadoop_tfidf_spark.operators.similarity import pca_project

    emb = spark.createDataFrame(
        [(7, [0.5, -0.25, 0.1, 0.0])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    comps = [[1_000_000, 0, 0, 0], [0, -2_000_000, 500_000, 0]]
    got = {
        (r.vec_id, r.component): r.score_u
        for r in pca_project(emb, comps, units=10_000).collect()
    }
    # x_u = [5000, -2500, 1000, 0]
    assert got[(7, 0)] == 5000 * 1_000_000
    assert got[(7, 1)] == (-2500) * -2_000_000 + 1000 * 500_000


def test_pack_sequences_tokens_override(spark):
    """With ``tokens=``, packing budgets in the supplied count and never
    touches ``text`` (the counts frame has none)."""
    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    counts = spark.createDataFrame(
        [(i, 300) for i in range(6)], "doc_id BIGINT, n_bpe_tokens BIGINT"
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(
            counts, budget=512, n_buckets=1, tokens=F.col("n_bpe_tokens")
        ).collect()
    }
    assert all(r.n_tokens == 300 for r in rows.values())
    # running sum: doc k has 300k tokens before it -> pack floor(300k/512)
    for k, r in enumerate(sorted(rows.values(), key=lambda r: r.doc_id)):
        assert r.pack_id == (300 * k) // 512
        assert r.offset_in_pack == (300 * k) % 512


def test_mixture_weights_tokens_override(spark):
    from hadoop_tfidf_spark.operators.sampling import mixture_weights

    docs = spark.createDataFrame(
        [(1, "a", "en", 30), (2, "a", "en", 30), (3, "b", "en", 40)],
        "doc_id BIGINT, source STRING, lang STRING, n_bpe_tokens BIGINT",
    )
    got = {
        (r.source, r.lang): (r.n_docs, r.n_tokens, r.token_share)
        for r in mixture_weights(docs, tokens=F.col("n_bpe_tokens")).collect()
    }
    assert got[("a", "en")] == (2, 60, 0.6)
    assert got[("b", "en")] == (1, 40, 0.4)


def test_pca_project_whitening_unit_variance(spark):
    """With lambdas=, whitened coordinates have ~equal variance across
    components even when raw projected variances differ by an order of
    magnitude."""
    import statistics

    from hadoop_tfidf_spark.operators.similarity import (
        pca_power_build,
        pca_project,
    )

    rows = _pca_fixture_rows(n=200, d=8)
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    comps, lams, _ = pca_power_build(emb, k=2, iters=12, units=10_000, in_dim=8)
    out = pca_project(emb, comps, units=10_000, lambdas=lams).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r.component, []).append(r.score_w)
    raw_by_c = {}
    for r in out:
        raw_by_c.setdefault(r.component, []).append(float(r.score_u))
    raw_ratio = statistics.pvariance(raw_by_c[0]) / statistics.pvariance(raw_by_c[1])
    w_ratio = statistics.pvariance(by_c[0]) / statistics.pvariance(by_c[1])
    assert raw_ratio > 2.0  # anisotropic before whitening
    assert 0.7 < w_ratio < 1.4  # ~isotropic after


def test_rp_topk_exact_when_candidates_cover_corpus(spark):
    """With candidates >= corpus size, stage 1 filters nothing and the
    two-stage result must equal the exact full-dim integer-L2 ranking
    (computed by an independent python reference)."""
    import random

    from hadoop_tfidf_spark.operators.similarity import rp_topk

    rng = random.Random(3)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    queries = emb.where(F.col("vec_id") < 2)
    got = [
        (r.query_id, r.vec_id, r.d2_u, r.rn)
        for r in rp_topk(
            emb, queries, k=5, candidates=100, out_dim=4, in_dim=8, units=1000
        ).collect()
    ]

    def u(v):
        from hadoop_tfidf_spark.operators.similarity import _rhalf

        return [_rhalf(x * 1000) for x in v]

    want = []
    for q in (0, 1):
        qu = u(vecs[q])
        d2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(u(v), qu)), i)
            for i, v in vecs.items()
            if i != q
        )
        want += [(q, i, d, rn + 1) for rn, (d, i) in enumerate(d2[:5])]
    assert sorted(got) == sorted(want)


def test_rp_topk_clustered_data_recalls_own_cluster(spark):
    """On well-separated clusters the projected-space candidate cut must
    keep the query's own cluster: every returned neighbor shares the
    query's cluster even with a tight candidate budget."""
    import random

    from hadoop_tfidf_spark.operators.similarity import rp_topk

    rng = random.Random(9)
    centers = [[5.0 * (c == d) for d in range(16)] for c in range(3)]
    rows = []
    for i in range(90):
        c = i % 3
        rows.append(
            (i, [centers[c][d] + rng.uniform(-0.3, 0.3) for d in range(16)])
        )
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    queries = emb.where(F.col("vec_id").isin([0, 1, 2]))
    out = rp_topk(
        emb, queries, k=8, candidates=12, out_dim=8, in_dim=16, units=1000
    ).collect()
    assert len(out) == 24
    for r in out:
        assert r.vec_id % 3 == r.query_id % 3  # same cluster


def test_dsir_importance_precomputed_ratios_single_scan(spark):
    """Passing a trained ratio table skips training and yields EXACTLY
    the end-to-end result — and works on a scoring corpus disjoint from
    the training one (the production shape)."""
    from hadoop_tfidf_spark.operators.sampling import (
        dsir_importance,
        dsir_ratios,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat here", "t"), (2, "stock market crash", "raw"),
         (3, "the cat sat again", "raw")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    score = spark.createDataFrame(
        [(10, "the cat sat quietly", "raw"), (11, "deep value crash", "raw"),
         (12, "x", "raw")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    ratios = dsir_ratios(train, F.col("source") == "t", n_buckets=16)
    got = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(score, n_buckets=16, ratios=ratios).collect()
    }
    assert set(got) == {10, 11, 12}
    assert got[12] == (0, None)
    assert got[10][0] == 3  # all three bigrams hit trained buckets
    # the ratio table is DENSE (round-9 fix): the bigram whose bucket the
    # training corpus never produced scores at the smoothed prior instead
    # of being silently dropped, so BOTH of doc 11's bigrams count
    assert got[11][0] == 2
    # exact independent replay of doc 11: hash its two bigrams with the
    # same md5 recipe, look them up in the DENSE table, sum in micro-log
    # units -> dsir_importance must agree to the digit (and the unseen
    # bucket contributes the smoothed prior, not a silent drop)
    import hashlib

    tab = {r.bucket: r.lr_u for r in ratios.collect()}
    assert set(tab) == set(range(16))  # dense table
    exp_u = sum(
        tab[int(hashlib.md5(f"dsir:{bg}".encode()).hexdigest()[:15], 16) % 16]
        for bg in ("deep value", "value crash")
    )
    assert got[11][1] == round(exp_u / 1_000_000.0, 6)
    # end-to-end (train == score corpus) still equals the two-step form
    e2e = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(train, F.col("source") == "t", n_buckets=16).collect()
    }
    two_step = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(
            train,
            n_buckets=16,
            ratios=dsir_ratios(train, F.col("source") == "t", n_buckets=16),
        ).collect()
    }
    assert e2e == two_step
    import pytest as _pt

    with _pt.raises(ValueError):
        dsir_importance(score)


def test_new_operators_empty_input_edges(spark):
    """Empty-corpus behavior is explicit, not accidental: projections
    return empty relations, the PCA build refuses (no covariance), and
    DSIR yields an empty (not failing) frame."""
    import pytest as _pt

    from hadoop_tfidf_spark.operators.sampling import dsir_importance
    from hadoop_tfidf_spark.operators.similarity import (
        pca_power_build,
        random_projection,
        rp_distortion,
        rp_topk,
    )

    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    assert random_projection(empty, out_dim=2, in_dim=4).count() == 0
    assert rp_distortion(empty, out_dim=2, in_dim=4, sample_mod=1).count() == 0
    assert (
        rp_topk(empty, empty, k=3, candidates=5, out_dim=2, in_dim=4).count()
        == 0
    )
    with _pt.raises(ValueError):
        pca_power_build(empty, k=1, iters=2, in_dim=4)

    nodocs = spark.createDataFrame(
        [], "doc_id BIGINT, text STRING, source STRING"
    )
    assert (
        dsir_importance(nodocs, F.col("source") == "t", n_buckets=8).count()
        == 0
    )


def test_pca_build_rejects_constant_corpus(spark):
    """All-identical vectors -> zero covariance -> explicit refusal (the
    SQL replay would divide by the zero max otherwise)."""
    import pytest as _pt

    from hadoop_tfidf_spark.operators.similarity import pca_power_build

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with _pt.raises(ValueError):
        pca_power_build(emb, k=1, iters=2, in_dim=4)


def test_rp_recall_near_one_on_clustered_data(spark):
    """On clustered data a candidates budget covering the query's
    cluster (35 vs ~40 members) recalls the true top-k almost fully;
    half-cluster budgets drop to ~0.8 (within-cluster distances
    concentrate too) — sizing this dial per corpus is exactly what the
    sim_rp_recall dashboard is for."""
    import random

    from hadoop_tfidf_spark.operators.similarity import int_l2_topk, rp_topk

    rng = random.Random(21)
    centers = [[6.0 * (c == d) for d in range(16)] for c in range(3)]
    rows = [
        (i, [centers[i % 3][d] + rng.uniform(-0.4, 0.4) for d in range(16)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    queries = emb.where(F.col("vec_id").isin([0, 1, 2]))
    approx = {
        (r.query_id, r.vec_id)
        for r in rp_topk(
            emb, queries, k=10, candidates=35, out_dim=8, in_dim=16, units=1000
        ).collect()
    }
    exact = [
        (r.query_id, r.vec_id)
        for r in int_l2_topk(emb, queries, k=10, units=1000).collect()
    ]
    hits = sum(1 for pair in exact if pair in approx)
    assert hits / len(exact) >= 0.9
