"""Property-based tests (SURVEY.md §5.3) — invariants that must hold for
ANY corpus: tf ≥ 1, idf ≥ log10(2), per-doc count conservation, search
score decomposition, rank-is-permutation.

Hypothesis drives corpus generation; examples are kept small and few
because every example pays Spark job latency.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_tfidf_spark.corpus import tokenize
from hadoop_tfidf_spark.search import query_term_bag, rank, search
from hadoop_tfidf_spark.tfidf import doc_word_count, tfidf

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=8).map(" ".join),
    min_size=1,
    max_size=5,
)

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


@given(texts=corpus_strategy)
@SETTINGS
def test_tf_and_idf_bounds(spark, texts):
    """tf = 1 + log10(n) ≥ 1; idf = log10(1 + ⌊N/df⌋) ≥ log10(2) since
    N ≥ df ≥ 1 ⇒ floor ≥ 1 — so tfidf ≥ log10(2) > 0 always."""
    out = tfidf(_docs(spark, texts), tokenizer_pattern=" ").collect()
    assert len(out) > 0
    for r in out:
        assert r.tf >= 1.0
        assert r.tfidf >= math.log10(2) - 1e-12
        assert r.tfidf <= r.tf * math.log10(1 + len(texts))


@given(texts=corpus_strategy)
@SETTINGS
def test_count_conservation(spark, texts):
    """Σ per-doc (word,doc) counts = token count of the doc."""
    docs = _docs(spark, texts)
    dwc = doc_word_count(tokenize(docs, " "))
    got = {
        r.doc_id: r.total
        for r in dwc.groupBy("doc_id").agg(F.sum("n").alias("total")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == len(t.split(" "))


@given(
    texts=corpus_strategy,
    query=st.lists(st.sampled_from(WORDS), min_size=1, max_size=4).map(" ".join),
)
@SETTINGS
def test_search_score_decomposition(spark, texts, query):
    """score(q, d) = Σ_{t ∈ bag(q)} tfidf(t, d) — bag semantics, duplicates
    counted per occurrence (Search.java:230)."""
    docs = _docs(spark, texts)
    t = tfidf(docs, tokenizer_pattern=" ")
    bag = query_term_bag(spark, [("q", query)])
    scores = {r.doc_id: r.score for r in search(t, bag).collect()}
    tf_map = {(r.word, r.doc_id): r.tfidf for r in t.collect()}
    for d in range(len(texts)):
        expected = sum(
            tf_map.get((w, d), 0.0) for w in query.split(" ")
        )
        if expected > 0:
            assert scores[d] == pytest.approx(expected)
        else:
            assert d not in scores  # inner join: no matching term, no row


@given(
    texts=corpus_strategy,
    query=st.lists(st.sampled_from(WORDS), min_size=1, max_size=3).map(" ".join),
)
@SETTINGS
def test_rank_is_permutation(spark, texts, query):
    docs = _docs(spark, texts)
    t = tfidf(docs, tokenizer_pattern=" ")
    s = search(t, query_term_bag(spark, [("q", query)]))
    r = rank(s).collect()
    scores = sorted((x.score for x in r), reverse=True)
    by_rank = [x.score for x in sorted(r, key=lambda x: x.rnk)]
    assert by_rank == scores  # rank order matches descending score order
    assert sorted(x.rnk for x in r) == list(range(1, len(r) + 1))


@given(texts=corpus_strategy)
@SETTINGS
def test_salted_df_equals_plain_df(spark, texts):
    """Salting is value-preserving: the two-phase salted aggregation on
    word equals plain doc_frequency for any corpus."""
    from hadoop_tfidf_spark.operators.skew import salted_agg
    from hadoop_tfidf_spark.tfidf import doc_frequency

    dwc = doc_word_count(tokenize(_docs(spark, texts), " "))
    plain = {(r.word, r.df) for r in doc_frequency(dwc).collect()}
    salted = {
        (r.word, r.df)
        for r in salted_agg(dwc, "word", F.count(F.lit(1)), "df", merge="sum").collect()
    }
    assert salted == plain


def test_hopping_double_counts_every_event(spark):
    """60min/30min hopping windows: every event lands in exactly two
    windows, so Σ n_events = 2·|events| and Σ total_value = 2·Σ value."""
    from hadoop_tfidf_spark.operators.relational import events_hopping
    from hadoop_tfidf_spark.sources.events import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    out = events_hopping(ev).agg(
        F.sum("n_events").alias("n"), F.round(F.sum("total_value"), 4).alias("v")
    ).collect()[0]
    base = ev.agg(
        F.count("*").alias("n"), F.round(F.sum("value") * 2, 4).alias("v2")
    ).collect()[0]
    assert out.n == 2 * base.n
    assert abs(out.v - base.v2) < 1e-3


def test_time_rollup_levels_consistent(spark):
    """ROLLUP hierarchy: the grand total row equals the sum of the
    per-day rows, which equals the sum of the (day, hour) rows."""
    from hadoop_tfidf_spark.operators.relational import events_time_rollup
    from hadoop_tfidf_spark.sources.events import load_events

    rows = events_time_rollup(load_events(spark, "/root/testdata/sf0.001")).collect()
    grand = [r for r in rows if r.epoch_day == -1]
    days = [r for r in rows if r.epoch_day != -1 and r.epoch_hour == -1]
    hours = [r for r in rows if r.epoch_hour != -1]
    assert len(grand) == 1
    assert grand[0].n_events == sum(r.n_events for r in days) == sum(
        r.n_events for r in hours
    )


@given(texts=corpus_strategy)
@SETTINGS
def test_span_dedup_conservation(spark, texts):
    """∀ corpus: one output row per doc; 0 ≤ n_dup_spans ≤ n_spans;
    clean_text's spans are exactly the doc's non-duplicated spans in
    order (token conservation: kept tokens ⊆ original tokens)."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    docs = _docs(spark, texts)
    out = {r.doc_id: r for r in span_dedup(docs, span_words=2).collect()}
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        r = out[i]
        words = [w for w in t.split(" ") if w]
        n_spans = (len(words) + 1) // 2
        assert r.n_spans == n_spans
        assert 0 <= r.n_dup_spans <= r.n_spans
        kept = [w for w in r.clean_text.split(" ") if w]
        # kept tokens are a subsequence of the original tokens
        it = iter(words)
        assert all(any(w == x for x in it) for w in kept)


@given(texts=corpus_strategy)
@SETTINGS
def test_mixture_weights_shares_sum_to_one(spark, texts):
    """token_share sums to 1 and weight × share = 1/n_strata for every
    stratum (the defining identity of uniform-target reweighting)."""
    from hadoop_tfidf_spark.operators.sampling import mixture_weights

    rows = [
        (i, t, f"src{i % 2}", "en") for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
    out = mixture_weights(docs, ["source", "lang"]).collect()
    assert abs(sum(r.token_share for r in out) - 1.0) < 1e-4
    n = len(out)
    for r in out:
        assert abs(r.uniform_weight * r.token_share - 1 / n) < 1e-4


@given(texts=corpus_strategy)
@SETTINGS
def test_pack_sequences_reconstructs_running_sum(spark, texts):
    """Within each bucket (docs ordered by doc_id), every doc's
    (pack_id, offset_in_pack) equals the running token count before it
    split by the budget — the packing is a pure function of the order.
    Bucket assignment replays the operator's md5('0:{id}') hash."""
    import hashlib

    from hadoop_tfidf_spark.operators.sampling import pack_sequences

    budget = 7
    docs = _docs(spark, texts)
    got = {r.doc_id: r for r in pack_sequences(docs, budget=budget, n_buckets=2).collect()}
    cums = {0: 0, 1: 0}
    for i, t in enumerate(texts):
        b = int(hashlib.md5(f"0:{i}".encode()).hexdigest()[:15], 16) % 2
        r = got[i]
        assert r.bucket == b
        assert r.pack_id == cums[b] // budget
        assert r.offset_in_pack == cums[b] % budget
        cums[b] += len([w for w in t.split(" ") if w])


@given(texts=corpus_strategy, stride=st.integers(min_value=1, max_value=2))
@SETTINGS
def test_span_dedup_sliding_invariants(spark, texts, stride):
    """For ANY corpus and stride: surviving words are a subsequence of the
    original words; span counts are consistent (0 ≤ n_dup_spans ≤
    n_spans); a doc with zero duplicated spans reassembles verbatim; and
    a word removed from one member of a duplicated pair is removed from
    the partner wherever the same span covered it (symmetry of the
    cross-doc rule)."""
    from hadoop_tfidf_spark.operators.dedup import span_dedup

    docs = _docs(spark, texts)
    got = {
        r.doc_id: r
        for r in span_dedup(docs, span_words=3, stride=stride).collect()
    }
    for i, t in enumerate(texts):
        words = [w for w in t.split(" ") if w]
        r = got[i]
        assert 0 <= r.n_dup_spans <= r.n_spans
        clean = [w for w in r.clean_text.split(" ") if w]
        # subsequence check
        it = iter(words)
        assert all(any(w == x for x in it) for w in clean)
        if r.n_dup_spans == 0:
            assert clean == words


@given(texts=corpus_strategy)
@SETTINGS
def test_lm_histogram_conserves_scored_docs(spark, texts):
    """Histogram doc counts sum to the number of scored (≥ 2-word) docs
    and shares sum to 1 whenever any doc is scored."""
    from hadoop_tfidf_spark.functions.text import lm_score, lm_score_histogram

    docs = _docs(spark, texts)
    n_scored = sum(
        1 for r in lm_score(docs).collect() if r.lm_score is not None
    )
    hist = lm_score_histogram(docs, bucket_width=0.25).collect()
    assert sum(r.n_docs for r in hist) == n_scored
    if n_scored:
        assert abs(sum(r.doc_share for r in hist) - 1.0) < 1e-5


def _ref_bpe_train(word_counts: dict[str, int], n_merges: int):
    """Independent pure-Python BPE trainer (Sennrich et al.): char-symbol
    start, per round argmax pair by (count desc, pair lexicographic),
    non-overlapping left-to-right merge. Mirrors NOTHING of the Spark
    implementation — dict/loop arithmetic only."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            n = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        left, right = best
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges, vocab


@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_bpe_train_matches_pure_python_reference(spark, words, n_merges):
    """bpe_train == the independent dict/loop reference on ANY corpus:
    same merge sequence, same final symbolization (the Spark side's
    fold, argmax tie-breaks, and per-round application all pinned at
    once)."""
    from hadoop_tfidf_spark.functions.text import bpe_train

    docs = _docs(spark, [" ".join(words)])
    wc: dict[str, int] = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    want_merges, want_vocab = _ref_bpe_train(wc, n_merges)
    merges, vocab = bpe_train(docs, n_merges=n_merges)
    got_vocab = {r.word: list(r.symbols) for r in vocab.collect()}
    vocab.unpersist()
    assert merges == want_merges
    assert got_vocab == want_vocab


def _ref_semantic_dedup(vecs, k, iters, units, threshold):
    """Independent integer-Lloyd + within-cell cosine reference
    (plain Python floats/ints, no Spark/DuckDB constructs)."""
    import math as m

    def rnd(v):
        # half-AWAY-from-zero, the Spark/DuckDB round contract (Python's
        # built-in round is banker's and would flake on exact .5 means)
        return int(m.floor(v + 0.5)) if v >= 0 else int(m.ceil(v - 0.5))

    ids = sorted(vecs)
    u = {i: [rnd(x * units) for x in vecs[i]] for i in ids}
    cents = [u[i] for i in ids[:k]]

    def assign():
        out = {}
        for i in ids:
            d2s = [
                (sum((a - b) ** 2 for a, b in zip(u[i], c)), ci)
                for ci, c in enumerate(cents)
            ]
            out[i] = min(d2s)[1]
        return out

    a = assign()
    for _ in range(iters):
        for ci in range(len(cents)):
            members = [i for i in ids if a[i] == ci]
            if members:
                cents[ci] = [
                    rnd(sum(u[i][d] for i in members) / len(members))
                    for d in range(len(cents[ci]))
                ]
        a = assign()

    def cos(x, y):
        dt = sum(p * q for p, q in zip(x, y))
        nx = m.sqrt(sum(p * p for p in x))
        ny = m.sqrt(sum(p * p for p in y))
        return round(dt / (nx * ny), 6)

    out = {}
    for i in ids:
        nbrs = [
            j for j in ids
            if j != i and a[j] == a[i] and cos(vecs[i], vecs[j]) >= threshold
        ]
        lower = [j for j in nbrs if j < i]
        out[i] = (a[i], len(nbrs), 0 if lower else 1)
    return out


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50).map(lambda v: v / 10.0),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
        unique_by=tuple,
    )
)
@SETTINGS
def test_semantic_dedup_matches_pure_python_reference(spark, vec_list):
    """semantic_dedup == the independent Lloyd+cosine reference on ANY
    vector set: same cells, same neighbor counts, same keep bits (the
    argmin/argmax tie-breaks and rounded-cosine threshold pinned on
    arbitrary inputs, not just the gate fixture)."""
    import pytest as _pt

    from hadoop_tfidf_spark.operators.similarity import semantic_dedup

    if any(all(abs(x) < 1e-9 for x in v) for v in vec_list):
        _pt.skip("zero vector has no cosine")
    vecs = {i: v for i, v in enumerate(vec_list)}
    want = _ref_semantic_dedup(vecs, k=2, iters=1, units=1000, threshold=0.8)
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: (r.cluster, r.n_sem_dups, r.keep)
        for r in semantic_dedup(
            emb, k=2, iters=1, units=1000, threshold=0.8
        ).collect()
    }
    assert got == want


def _rhalf_ref(x):
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50).map(lambda v: v / 10.0),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_rp_projection_matches_reference_any_vectors(spark, vec_list):
    """random_projection == the hashlib/decimal reference on ANY vector
    set: md5-parity signs, half-away quantization, exact integer sums."""
    import hashlib

    from hadoop_tfidf_spark.operators.similarity import random_projection

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vec_list)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: list(r.rp)
        for r in random_projection(
            emb, out_dim=3, in_dim=4, units=1000, seed="rp"
        ).collect()
    }

    def sign(j, d):
        h = hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 2 == 0 else -1

    for i, v in enumerate(vec_list):
        u = [_rhalf_ref(x * 1000) for x in v]
        assert got[i] == [
            sum(sign(j, d) * u[d] for d in range(4)) for j in range(3)
        ]


@given(
    rows=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta"]),
                min_size=1,
                max_size=6,
            ).map(" ".join),
            st.booleans(),
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_dsir_matches_reference_any_corpus(spark, rows):
    """dsir_importance == the independent hashlib/math reference on ANY
    corpus/target split, including all-target, no-target, and <2-word
    NULL rows."""
    from hadoop_tfidf_spark.operators.sampling import dsir_importance
    from tests.test_round8_ops import _dsir_reference

    data = [
        (i, text, "t" if is_t else "raw") for i, (text, is_t) in enumerate(rows)
    ]
    docs = spark.createDataFrame(data, "doc_id BIGINT, text STRING, source STRING")
    got = {
        r.doc_id: (r.n_feats, r.dsir_logratio)
        for r in dsir_importance(
            docs, F.col("source") == "t", n_buckets=8, k_smooth=0.25
        ).collect()
    }
    assert got == _dsir_reference(data, {"t"}, n_buckets=8, k=0.25)


# --------------------------------------------------- perceptual hash (r9)

grid_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=255), min_size=16, max_size=16),
    min_size=2,
    max_size=6,
)


def _ppm4(cells):
    body = bytes(v for c in cells for v in (c, c, c))
    return b"P6 4 4 255\n" + body


def _ref_phash(cells, grid=4):
    """Independent pure-Python aHash over a 4x4 uniform-cell image
    (pixel (y,x) == cell, all channels equal)."""
    grays = [3 * c for c in cells]
    tot = sum(grays)
    return sum(
        1 << i for i, g in enumerate(grays) if g * len(grays) > tot
    )


@given(imgs=grid_strategy)
@SETTINGS
def test_media_phash_matches_pure_python_reference(spark, imgs):
    from hadoop_tfidf_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_phash,
    )

    media = spark.createDataFrame(
        [(i, _ppm4(c), "image/x-portable-pixmap") for i, c in enumerate(imgs)],
        MEDIA_SCHEMA,
    )
    got = {r.doc_id: r.phash for r in media_phash(media).collect()}
    assert got == {i: _ref_phash(c) for i, c in enumerate(imgs)}


@given(imgs=grid_strategy)
@SETTINGS
def test_phash_near_pairs_complete_vs_brute_force(spark, imgs):
    """Band blocking finds EXACTLY the brute-force hamming<=1 pair set —
    the pigeonhole completeness argument, tested empirically."""
    import itertools

    from hadoop_tfidf_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        phash_near_pairs,
    )

    media = spark.createDataFrame(
        [(i, _ppm4(c), "image/x-portable-pixmap") for i, c in enumerate(imgs)],
        MEDIA_SCHEMA,
    )
    got = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in phash_near_pairs(media, max_hamming=1).collect()
    }
    hs = {i: _ref_phash(c) for i, c in enumerate(imgs)}
    want = {
        (a, b, bin(hs[a] ^ hs[b]).count("1"))
        for a, b in itertools.combinations(sorted(hs), 2)
        if bin(hs[a] ^ hs[b]).count("1") <= 1
    }
    assert got == want


# ------------------------------------------------ temperature mixture (r9)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4),
    tau=st.sampled_from([0.0, 0.5, 1.0]),
    budget=st.integers(min_value=1, max_value=500),
)
@example(sizes=[15, 33, 40, 40], tau=1.0, budget=1)  # share tie: 132/512
@SETTINGS
def test_temperature_rates_match_pure_python_reference(
    spark, sizes, tau, budget
):
    """temperature_rates equals an independent pure-Python replay of the
    quantized recipe (pow -> micro-units -> exact integer total ->
    rounded share -> clamped floor rate) on arbitrary strata shapes.
    Spark's ``round`` (like the DuckDB oracle's) rounds half away from
    zero on the double's shortest decimal form, so the replay does too —
    Python's ``round`` would round an exact tie such as 132/512 =
    0.2578125 to even."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hadoop_tfidf_spark.operators.sampling import temperature_rates

    def spark_round(x, scale):
        q = Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
        return float(q)

    rows, did = [], 0
    for s, n_docs in enumerate(sizes):
        for _ in range(n_docs):
            rows.append((did, "w1 w2 w3 w4", f"s{s}"))  # 4 tokens per doc
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, source STRING"
    )
    got = {
        r.source: (r.n_tokens, r.temp_share, r.rate_pct)
        for r in temperature_rates(
            docs, tau=tau, budget_tokens=budget, strata=["source"]
        ).collect()
    }
    n_tok = {f"s{s}": 4 * n for s, n in enumerate(sizes)}
    pt_u = {
        k: int(spark_round(math.pow(v, tau) * 1_000_000, 0))
        for k, v in n_tok.items()
    }
    tot = sum(pt_u.values())
    for k, v in n_tok.items():
        share = spark_round(pt_u[k] / tot, 6)
        rate = min(100, max(0, math.floor(100.0 * budget * share / v)))
        assert got[k] == (v, share, rate), (k, got[k], (v, share, rate))

