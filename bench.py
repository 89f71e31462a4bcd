"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced to full materialization with the noop sink (no
driver-side collect cost, no result-size bias). The reported ``value`` is
total wall-clock seconds across the headline set; per-query seconds are in
``queries``.

Round 17 (additions-only, disclosed in OPTIMIZATION_r17.md): the JSON
line gains ``construct`` (per-query plan-construction seconds, min over
the same trials — this is where eager index builds spend driver time:
Lloyd collects, PQ/OPQ training, probe collects, stream drains) and
``total_with_construct`` (= value + Σ construct). ``value``/``queries``
keep the r01–r16 timed region unchanged (noop-sink execution only), so
the tripwire and round-over-round comparisons stay methodology-stable
while the formerly-invisible construction cost becomes a recorded,
regressible number.

Regression tripwire: per-query times are compared against the MAX of the
last ``REGRESSION_LOOKBACK`` recorded ``BENCH_r*.json`` rounds next to
this file (max, because a single lucky-fast round would otherwise flag
the next normal one — measured cross-round noise on identical code
reaches 2× on sub-second queries, e.g. rel_top_customers 0.36→0.19
r4→r5). A shared query slower than ``REGRESSION_FACTOR``× that baseline
AND by more than ``REGRESSION_FLOOR_S`` absolute is first RE-MEASURED
alone (the retry pass — a full-set drive inflates individual rows via
host contention; round 10 tripped tfidf/search/rank on byte-identical
code and an exclusive re-run cleared all three), and only if it still
trips is it reported in the ``regressions`` list and fails the run with
rc=2 — so a silent slowdown becomes a hard signal the round it happens,
and single-process contention cannot produce a false one. Set
``SPARK_GRAFT_BENCH_NO_TRIPWIRE=1`` to report without failing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

REGRESSION_FACTOR = 1.5
# 0.25, not higher (per round-6 advisory): min-of-3 trials brings
# observed same-code flakes under the 1.5x factor (the recorded 2.4x
# band was measured with min-of-2), so widening the absolute floor would
# only grow the blind spot for real regressions in sub-second queries.
# If a sub-0.5s query ever trips on unchanged code, the remedy is a
# rerun (documented noise), not a wider floor.
REGRESSION_FLOOR_S = 0.25
REGRESSION_LOOKBACK = 2

#: Queries whose CONSTRUCTION runs eager index builds (Lloyd collects,
#: permutation training) that the noop-write timer never sees but the
#: bench pays per trial: one trial each, so the full-set wall stays
#: bounded as the headline grows. Their timed stage is a deterministic
#: scan whose min-of-1 noise the tripwire retry pass absorbs.
#: sim_topk_ivf_bulk (round 13) deliberately STAYS min-of-3 despite its
#: eager ivf_build: measured, its single-trial number is the cold JIT
#: 17.7s while steady state is 12.0s — a 47% overstatement of the row
#: users actually see on a warm cluster; the ~24s extra bench wall is
#: within budget and buys the honest number.
SINGLE_TRIAL = {"sim_topk_opq_ivfpq", "sim_topk_ivfsq"}

#: Queries whose SEMANTICS changed in a given round: timings from rounds
#: BEFORE the marker measure a different computation, so the tripwire
#: skips those baselines (comparisons resume the round after the change
#: lands its own recorded row — nothing is permanently exempted).
#: multimodal_decode r8: payload generation moved from a JVM text-encode
#: fake to Python-synthesized real multi-frame PPM (a second Arrow
#: stage) and decode now parses real pixel bytes — the r6/r7 rows timed
#: the md5 stub.
BASELINE_RESET = {"multimodal_decode": 8}

#: The headline set — FAMILIES POLICY (adopted round 12, before the
#: registry outgrew the wall budget): every operator family keeps its
#: COSTLIEST representative (the row whose regression would matter), plus
#: any row that moved >1.2x (and >0.1s absolute) across the last two
#: recorded rounds (movers stay benched until they hold still for two
#: rounds), plus the full 8-query core pipeline unconditionally (the
#: reference-parity story and the tripwire's anchor rows). Subsumed
#: variants (a cheaper query whose plan is a strict subset of a kept
#: row's — flat PQ inside residual IVFADC, audio_decode inside
#: audio_energy, curate inside curate_semantic) ride their superset's
#: timing. sim_tier_frontier is deliberately NOT benched: it is six
#: already-benched tier chains plus six count aggregates, so its wall is
#: the sum of rows the bench already prices. Every declared query still
#: runs in the correctness gate regardless.
#: Round-12 movers kept under the >1.2x rule: pipeline_curate,
#: multimodal_phash_dedup (plus core rows, kept anyway).
HEADLINE = [
    # core pipeline (reference parity) — always benched
    "tokens", "doc_word_count", "term_frequency", "doc_frequency",
    "tfidf", "search", "rank", "tfidf_rank",
    # curation pipelines: semantic = the costliest superset
    # (lang->quality->exact->near-dup->SemDeDup); curate kept as an
    # r10->r11 mover (3.089->2.442)
    "pipeline_curate_semantic", "pipeline_curate",
    # modern ranking: hybrid RRF = lexical DQ6 rank + vector index +
    # fusion (bm25 rides the same corpus scan shape)
    "search_hybrid_rrf",
    # dedup, one representative per modality: semantic (IVF-cell
    # blocking), minhash with the megabucket cap ENGAGED (superset of
    # free-running lsh), sliding span (superset of exact span), simhash
    "dedup_semantic", "dedup_minhash_capped", "dedup_span_sliding",
    "dedup_simhash",
    # ANN, one per index family: residual IVFADC (superset of flat
    # ivfpq/pq), the OPQ composition (superset of flat opq), IVF-SQ8,
    # the brute/lsh/ivf recall audit (prices the cheap tiers), the
    # RP-trained residual index (superset of rp_project/rp_topk), the
    # PCA two-stage, flat SQ8 (the byte-scan shape), BQ (sign bits),
    # and the label-centroid aggregation (its own family)
    "sim_topk_ivfpq_res", "sim_topk_opq_ivfpq", "sim_topk_ivfsq",
    "sim_recall_audit", "sim_topk_rp_ivfpq", "sim_pca_topk",
    "sim_topk_sq", "sim_topk_bq", "sim_label_centroids",
    # round 13: the bulk-query executor-probe shape (every corpus vector
    # re-ranked, zero query-side collect) — its own family, not a
    # superset of the 5-query interactive ivf row
    "sim_topk_ivf_bulk",
    # round 13: broadcast-Bloom decontamination (prices the exact
    # semi-join AND the bitmap-probe dataflow in one row — the
    # decontamination family's costliest representative) and
    # incremental signature maintenance (diff + carry semi-join +
    # dirty-slice signing — the index-maintenance family)
    "text_decontaminate_bloom", "dedup_delta_signatures",
    # round 14: the bulk COMPRESSED kNN-graph shape (residual-IVFADC ADC
    # cut + exact re-rank of the candidate budget — prices against
    # sim_topk_ivf_bulk's full-precision cost) and the O(delta)
    # signature ledger (stored-hash diff, no old-text scan)
    "sim_topk_ivfpq_bulk", "dedup_delta_ledger",
    # data selection: text_dsir (the contention-watch row, VERDICT r11)
    # + the streaming ratio-table twin (streaming family representative)
    "text_dsir", "streaming_dsir",
    # text analysis, one per shape: trigram-df novelty, LM scoring,
    # the capped co-occurrence quadratic valve, BPE pair counting,
    # per-source governance, rolling-hash fingerprint, the C4 gate
    # (superset of text_quality's scan expressions), sequence packing
    "text_ngram_novelty", "text_lm_score", "text_cooccurrence_capped",
    "text_bpe_pairs", "text_source_stats", "text_fingerprint",
    "text_c4_filters", "text_pack_sequences",
    # multimodal: image decode scan, perceptual-hash dedup (r10->r11
    # mover), the audio frame-energy walk (superset of audio_decode)
    "multimodal_decode", "multimodal_phash_dedup",
    "multimodal_audio_energy",
    # relational / events / as-of, costliest row each
    "rel_top_customers", "events_sessionize", "asof_last_purchase",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from hadoop_tfidf_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="hadoop_tfidf_spark_bench")

    queries = entrymod.queries()
    timings: dict[str, float] = {}

    # JVM/codegen warmup on the smallest table so the first measured query
    # doesn't pay one-time session costs.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # min-of-3: measured same-code cross-RUN noise on this host reaches
    # 2.4x on sub-second queries with min-of-2 (r6: events_sessionize
    # 0.31->0.73, dedup_minhash_capped 1.17->2.07 across back-to-back
    # runs); a third trial brings every observed flake back under the
    # tripwire thresholds while adding ~40% wall to the bench only
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    names = [n for n in HEADLINE if n in queries]
    # Round 17: CONSTRUCTION time (plan build incl. eager driver work —
    # Lloyd collects, codebook training, probe collects, stream drains)
    # is now measured per trial and reported in the ADDITIVE "construct"
    # dict + "total_with_construct". The legacy "value"/"queries" fields
    # keep the exact r01–r16 methodology (noop-sink execution only) so
    # cross-round comparisons and the tripwire stay apples-to-apples;
    # the formerly-invisible build cost (VERDICT r16 "What's wrong" ¶3)
    # is now a first-class recorded number instead of untimed wall.
    constructs: dict[str, float] = {}
    for name in names:
        best = None
        best_c = None
        for _ in range(1 if name in SINGLE_TRIAL else trials):
            tc0 = time.time()
            df = queries[name](spark, sf_dir)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
            c = t0 - tc0
            best_c = c if best_c is None else min(best_c, c)
            # queries may persist shared intermediates (shingle sets,
            # embeddings); drop them so memory stays flat across the set,
            # no query is timed against another's cache, and trial 2
            # rebuilds from scratch (min-of-N damps host-contention noise)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        constructs[name] = round(best_c, 3)

    regressions = _regressions(timings, sf)
    retried = []
    if regressions:
        # Tripwire retry pass: the first sweep times 50+ queries
        # back-to-back in one process, so host/JVM contention can inflate
        # a few rows past 1.5x on UNCHANGED code (round 10 recorded
        # exactly that: tfidf/search/rank tripped at 1.6-1.8x and an
        # exclusive re-run cleared all three). Before failing, re-measure
        # ONLY the flagged queries — nothing else queued, caches cold —
        # and keep the min. A real regression reproduces; contention
        # noise does not.
        for r in regressions:
            name = r["query"]
            retried.append(name)
            best = timings[name]
            best_c = constructs[name]
            for _ in range(trials):
                tc0 = time.time()
                df = queries[name](spark, sf_dir)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
                best_c = min(best_c, t0 - tc0)
                spark.catalog.clearCache()
            timings[name] = round(best, 3)
            constructs[name] = round(best_c, 3)
        regressions = _regressions(timings, sf)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "regressions": regressions,
                "retried": retried,
                "construct": constructs,
                "total_with_construct": round(
                    total + sum(constructs.values()), 3
                ),
            }
        )
    )
    spark.stop()
    if regressions and not os.environ.get("SPARK_GRAFT_BENCH_NO_TRIPWIRE"):
        sys.exit(2)


def _regressions(timings: dict[str, float], sf: float | None) -> list[dict]:
    """Shared-query slowdowns vs the last REGRESSION_LOOKBACK recorded
    BENCH_r*.json rounds at the same sf (cross-sf comparisons would be
    meaningless); per-query baseline = max across those rounds."""
    here = os.path.dirname(os.path.abspath(__file__))
    records: list[tuple[str, dict[str, float]]] = []
    for path in sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
        reverse=True,
    ):
        try:
            with open(path) as f:
                rec = json.load(f)
            # the driver stores this script's JSON line under "parsed"
            rec = rec.get("parsed", rec)
            if rec.get("sf") == sf and rec.get("queries"):
                records.append((os.path.basename(path), rec["queries"]))
                if len(records) >= REGRESSION_LOOKBACK:
                    break
        except (OSError, ValueError, AttributeError):
            continue
    if not records:
        return []
    out = []
    for name, now in timings.items():
        reset = BASELINE_RESET.get(name)
        prevs = [
            (q[name], f)
            for f, q in records
            if name in q
            and (
                reset is None
                or int(re.search(r"BENCH_r(\d+)", f).group(1)) >= reset
            )
        ]
        if not prevs:
            # A BASELINE_RESET that filters out EVERY recorded round
            # leaves the tripwire silently inert for this query — say so
            # (stderr, not the JSON line) until an r>=reset row lands.
            if reset is not None and any(name in q for _, q in records):
                print(
                    f"bench: BASELINE_RESET leaves {name!r} with zero "
                    f"usable baselines (no BENCH_r>={reset} recorded at "
                    f"sf={sf}) — tripwire inert for it this run",
                    file=sys.stderr,
                )
            continue
        old, old_file = max(prevs)
        if now > old * REGRESSION_FACTOR and now - old > REGRESSION_FLOOR_S:
            out.append(
                {"query": name, "prev": old, "now": now, "baseline": old_file}
            )
    return out


if __name__ == "__main__":
    main()
