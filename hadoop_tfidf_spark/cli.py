"""Command-line entry points mirroring the reference's six tools
(DocWordCount, TermFrequency, TFIDF, Search, Rank, TFIDFRank — each a
``main`` + ``ToolRunner`` pair in the reference, e.g. TFIDF.java:31–34).

Differences by design (SURVEY.md O18–O20):

* one lazy Spark plan per command instead of 2–4 chained MR jobs with HDFS
  text re-parsing between them;
* the query is an argument (``--query``), not interactive stdin
  (Search.java:37–47) — scriptable; stdin is still read when ``--query`` is
  omitted, for drop-in parity;
* ``--num-docs`` replicates the reference's user-supplied corpus size
  (CLI args[3], TFIDF.java:58); defaults to computing it from the data;
* output is parquet by default, ``--format tsv`` for the reference's
  ``key \\t value`` text shape (O17).

Usage::

    python -m hadoop_tfidf_spark.cli docwordcount  IN OUT
    python -m hadoop_tfidf_spark.cli termfrequency IN OUT
    python -m hadoop_tfidf_spark.cli tfidf         IN OUT [--num-docs N]
    python -m hadoop_tfidf_spark.cli search        IN OUT --query "a b"
    python -m hadoop_tfidf_spark.cli rank          IN OUT --query "a b"
    python -m hadoop_tfidf_spark.cli tfidfrank     IN OUT [--limit K]
    python -m hadoop_tfidf_spark.cli curate        IN OUT [--pack-budget N]
                  [--splits train=90,valid=5,test=5] [--max-bucket-size N]
                  [--decontaminate BENCH] [--semantic-dedup EMB]
    python -m hadoop_tfidf_spark.cli select        IN OUT --top-n N
                  (--target SQLEXPR | --ratios TABLE)
                  [--exclude-target] [--save-ratios PATH] [--n-buckets B]
    python -m hadoop_tfidf_spark.cli bpe-train     IN OUT [--merges N]
                  [--save-merges PATH]
    python -m hadoop_tfidf_spark.cli project       IN OUT --method rp|pca
                  [--out-dim K] [--in-dim D] [--whiten]
    python -m hadoop_tfidf_spark.cli compact       IN OUT [--target-file-mb N]
    python -m hadoop_tfidf_spark.cli knn           IN OUT --query-ids 0,1
                  [--knn-index brute|bq|sq|ivfsq|ivfpq] [--k K]
                  [--candidates C] [--nprobe P] [--units U]
                  [--index-dir DIR]
    python -m hadoop_tfidf_spark.cli knn-build     IN INDEX_DIR
                  --knn-index ivf|bq|sq|ivfsq|ivfpq|opq [--coarse-k K]
                  [--units U]
    python -m hadoop_tfidf_spark.cli knn-extend    DELTA INDEX_DIR
    python -m hadoop_tfidf_spark.cli knn-drift     IN - --index-dir DIR
                  [--k K] [--candidates C] [--nprobe P]
    python -m hadoop_tfidf_spark.cli knn-flip      INDEX_DIR ROOT
    python -m hadoop_tfidf_spark.cli knn-compact   INDEX_DIR NEW_DIR
    python -m hadoop_tfidf_spark.cli knn-graph     IN OUT --index-dir DIR
                  (--target-recall R | --nprobe P --candidates C)
                  [--k K]
    python -m hadoop_tfidf_spark.cli sign          IN OUT [--ledger DIR]
                  [--generation N] [--from-generation N]
    python -m hadoop_tfidf_spark.cli ledger-compact SINK - --keys K1,K2
                  [--through N]
    python -m hadoop_tfidf_spark.cli explain       QUERY SF_DIR
    python -m hadoop_tfidf_spark.cli frontier      SF_DIR OUT

``curate`` is engine surface beyond the reference (the north-star
training-data pipeline): lang-id → quality filter → exact dedup → LSH
near-dup drop → deterministic split in one lazy plan; ``--pack-budget N``
(alias ``--pack``) additionally packs each split into ~N-token training
packs, ``--splits`` overrides the 90/5/5 split percentages, and
``--max-bucket-size`` engages the LSH megabucket cap.

``bpe-train`` trains the BPE tokenizer on IN's corpus (``--merges``
merge rounds, deterministic) and writes the symbolized vocabulary table
``(word, n, symbols)`` to OUT — the exact artifact
``functions.text.bpe_token_counts`` (and the BPE-budget packing/mixture
operators) consume; ``--save-merges`` also writes the ordered merge
list ``(idx, left, right)``, the shippable tokenizer model.

``project`` reduces an embeddings table (``vec_id``, ``embedding``) to
a compact representation: ``--method rp`` writes the seeded Rademacher
JL projection ``(vec_id, rp)`` (no training, regenerates anywhere from
the seed); ``--method pca`` trains integer power-iteration PCA on IN
and writes the component scores ``(vec_id, component, score_u)``
(``--whiten`` divides by sqrt-eigenvalues). The pre-step before ANN
indexing or clustering when the raw dimension is wide.

``select`` is DSIR data selection end-to-end (Xie et al. 2023): score
every document by hashed-bigram importance against a target
distribution and write the top-N matches (all input columns plus
``n_feats``/``dsir_logratio``) to OUT. The target comes from EITHER
``--target``, a SQL boolean expression over the input's columns that
marks the in-corpus target slice (e.g. ``"source = 'wiki'"`` — trains
the ratio table inline), OR ``--ratios``, a dense ratio-table parquet
trained earlier (the train-on-a-sample / score-the-full-corpus
deployment; ``--n-buckets`` must match training). ``--save-ratios``
persists the trained table for exactly that reuse; ``--exclude-target``
drops the target slice itself from the selection (select NEW data that
looks like the target).

``knn`` is vector search over an embeddings parquet (``vec_id``,
``embedding``): exact integer-L2 (``brute``) or the quantization-ladder
tiers — binary sign-bit/Hamming (``bq``), flat INT8 scalar quantization
(``sq``), IVF-SQ8 probed byte-coded residuals (``ivfsq``) — each a
stage-1 cut + exact re-rank writing the family shape ``(query_id,
vec_id, d2_u, rn)``. Without ``--index-dir`` it's a one-shot
build+search; production splits them: ``knn-build`` trains the tier
ONCE and persists it (artifacts in a versioned manifest, code tables as
parquet — ``operators/index_store``), then ``knn --index-dir DIR``
serves queries from the stored index without re-running any training
job (no Lloyd rounds, no calibration scan). ``ivfpq`` is the residual
IVFADC tier (coarse cells + 8-byte packed residual codes, ADC ranking)
and ``opq`` the same index trained behind the OPQ variance-balancing
coordinate permutation (the permutation persists as one more integer
artifact) — both available through the build/serve split only, since a
one-shot retrain per query set defeats their point. ``knn-graph`` is the bulk job:
the whole-corpus kNN graph (semantic-dedup / clustering input) from a
stored ivfpq index, with the search budget either pinned
(``--nprobe``/``--candidates``) or AUTO-SIZED from a target recall
(``--target-recall`` walks a sample recall curve against the exact
integer-L2 truth and picks the cheapest clearing budget — the measured
dial, not a guess).

``knn-flip`` makes the versioned-artifact story operational:
``knn-flip INDEX_DIR ROOT`` atomically points ``ROOT/CURRENT.json`` at
a validated index version, and every ``--index-dir`` consumer (and
``knn-extend``'s target) accepts EITHER a concrete version dir or a
serving root — so a retrain ships as knn-build to a fresh dir,
knn-drift to validate, knn-flip to move every serving job, with readers
seeing the old or the new index and never a torn state.

``knn-compact`` folds an extended index's generation slices into a
fresh single-base version (artifacts byte-identical, no training — the
stored-index counterpart of ``ledger-compact``); flip serving to the
compacted dir with ``knn-flip`` when crawl-count file overhead grows.

``knn-extend`` grows a stored index crawl-over-crawl WITHOUT
retraining: it encodes a new generation's vectors against the frozen
centroids/codebooks/vmax (O(delta) — old generations are never
rescanned) and commits them as a ``generations/gen=N`` slice every
later ``knn``/``knn-graph`` load serves. ``knn-drift`` is the paired
telemetry: recall@k per query generation against the exact integer-L2
truth, with the documented retrain trigger (``retrain_due``) — when it
fires, run a fresh ``knn-build`` into a NEW directory and flip serving.

``sign`` maintains the O(delta) MinHash signature ledger
(``operators/dedup``): a fresh run signs every doc of IN (content hash +
zero-shuffle signature columns) into ``OUT/generation=0``; with
``--ledger`` it advances an existing ledger crawl-over-crawl — docs are
diffed against the STORED content hashes, unchanged rows carried by id,
only the added/changed slice re-shingled; the previous generation's
text is never read. Prints a one-line JSON crawl-delta census.

``ledger-compact`` folds an update-mode streaming ledger's old
generations into one base (``streaming/ledger.compact_ledger`` — a
table format's OPTIMIZE on plain parquet): reconstruction-invariant,
crash-safe, replay-guarded. The manual counterpart of
``ledger_upsert(compact_every=N)``; prints the fold census.

``IN`` is a text directory (file-per-document, the reference's input
shape) or a parquet path with (doc_id, text) columns.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _load(spark: SparkSession, path: str) -> DataFrame:
    from hadoop_tfidf_spark.corpus import load_docs, load_text_dir

    if path.endswith(".parquet") or path.endswith(".pq"):
        return load_docs(spark, path)
    return load_text_dir(spark, path)


def _write(df: DataFrame, path: str, fmt: str) -> None:
    from hadoop_tfidf_spark.sinks import write_parquet, write_tsv

    (write_tsv if fmt == "tsv" else write_parquet)(df, path)


def _query_text(args: argparse.Namespace) -> str:
    if args.query is not None:
        return args.query
    # stdin parity with the reference's interactive prompt (Search.java:37–41)
    print("input query terms:", file=sys.stderr, flush=True)
    return sys.stdin.readline().strip()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="hadoop_tfidf_spark")
    p.add_argument("tool", choices=[
        "docwordcount", "termfrequency", "tfidf", "search", "rank", "tfidfrank",
        "curate", "select", "bpe-train", "project", "compact", "knn",
        "knn-build", "knn-extend", "knn-drift", "knn-graph", "knn-flip",
        "knn-compact", "sign", "ledger-compact", "explain",
        "frontier",
    ])
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--query", default=None, help="query terms (default: stdin)")
    p.add_argument("--num-docs", type=int, default=None)
    p.add_argument("--limit", type=int, default=None, help="top-k for tfidfrank")
    p.add_argument("--format", choices=["parquet", "tsv"], default="parquet")
    p.add_argument("--exact-idf", action="store_true")
    p.add_argument("--dedupe-query", action="store_true")
    p.add_argument("--pack", "--pack-budget", dest="pack", type=int,
                   default=None, metavar="BUDGET",
                   help="curate: also pack each split into ~BUDGET-token packs")
    p.add_argument("--lang", default="en", help="curate: language to keep")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--max-bucket-size", type=int, default=None, metavar="N",
                   help="curate: ignore LSH buckets holding more than N docs "
                        "(a boilerplate megabucket then drops nothing: a "
                        "recall trade)")
    p.add_argument("--splits", default=None, metavar="NAME=PCT,...",
                   help="curate: split percentages, e.g. train=90,valid=5,"
                        "test=5 (must sum to 100; default 90/5/5)")
    p.add_argument("--decontaminate", default=None, metavar="BENCH",
                   help="curate: drop docs whose 3-gram overlap with the "
                        "benchmark corpus at BENCH (text dir or parquet) "
                        "exceeds 0.1, before curation")
    p.add_argument("--decontaminate-bloom", action="store_true",
                   help="curate: run --decontaminate through a "
                        "Bloom filter (one-sided error: drops "
                        "a superset; use when the benchmark shingle set "
                        "is too large to broadcast as strings)")
    p.add_argument("--ledger", default=None, metavar="DIR",
                   help="sign: existing signature-ledger root (written by "
                        "an earlier sign run); advances it by the O(delta) "
                        "path — only added/changed docs are re-shingled, "
                        "the old generation's text is never read")
    p.add_argument("--generation", type=int, default=None, metavar="N",
                   help="sign: generation number to write under "
                        "OUT/generation=N (default: 0 for a fresh ledger, "
                        "previous+1 when advancing via --ledger)")
    p.add_argument("--from-generation", type=int, default=None, metavar="N",
                   help="sign: which generation of --ledger to advance "
                        "from (default: its highest)")
    p.add_argument("--keys", default=None, metavar="K1,K2",
                   help="ledger-compact: the reconstruction key columns "
                        "(latest row per key wins)")
    p.add_argument("--through", type=int, default=None, metavar="N",
                   help="ledger-compact: fold generations <= N (default: "
                        "all but the newest)")
    p.add_argument("--bloom-bits-per-key", default=None, type=int,
                   metavar="B",
                   help="curate: size the Bloom filter from the benchmark "
                        "shingle count at B bits/shingle via "
                        "bloom_geometry (production sizing; ~1%% FP at "
                        "B=10); default keeps the fixed 16 KiB gate "
                        "geometry")
    p.add_argument("--semantic-dedup", default=None, metavar="EMB",
                   help="curate: parquet of (vec_id, embedding) aligned "
                        "with doc_id; adds the SemDeDup stage (IVF-cell "
                        "blocking, within-cell cosine, lowest id "
                        "survives) after the LSH near-dup drop")
    p.add_argument("--semantic-threshold", type=float, default=0.95,
                   help="curate: cosine ceiling for --semantic-dedup")
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="compact: target output parquet file size")
    p.add_argument("--top-n", type=int, default=None, metavar="N",
                   help="select: how many top-scored docs to keep")
    p.add_argument("--target", default=None, metavar="SQLEXPR",
                   help="select: SQL boolean expression over the input's "
                        "columns marking the target slice (trains the "
                        "ratio table inline)")
    p.add_argument("--ratios", default=None, metavar="TABLE",
                   help="select: parquet path of a dsir_ratios table "
                        "trained earlier (--n-buckets must match)")
    p.add_argument("--n-buckets", type=int, default=256,
                   help="select: DSIR hash-feature bucket count")
    p.add_argument("--exclude-target", action="store_true",
                   help="select: drop the target slice itself from the "
                        "selection (needs --target)")
    p.add_argument("--save-ratios", default=None, metavar="PATH",
                   help="select: also write the trained ratio table here "
                        "for later --ratios reuse")
    p.add_argument("--merges", type=int, default=10,
                   help="bpe-train: number of merge rounds")
    p.add_argument("--save-merges", default=None, metavar="PATH",
                   help="bpe-train: also write the ordered merge list "
                        "(idx, left, right) here")
    p.add_argument("--method", choices=["rp", "pca"], default=None,
                   help="project: JL random projection or trained PCA")
    p.add_argument("--out-dim", type=int, default=16,
                   help="project: output dimensions / components")
    p.add_argument("--in-dim", type=int, default=64,
                   help="project (rp): expected embedding dimension")
    p.add_argument("--whiten", action="store_true",
                   help="project (pca): divide scores by sqrt-eigenvalues")
    p.add_argument("--query-ids", default=None, metavar="ID,ID,...",
                   help="knn: comma-separated vec_ids to search for")
    p.add_argument("--knn-index", dest="knn_index", default=None,
                   choices=["brute", "ivf", "bq", "sq", "ivfsq", "ivfpq",
                            "opq"],
                   help="knn/knn-build: index tier — exact integer-L2 "
                        "scan (knn only), full-precision IVF "
                        "(knn-build/--index-dir only), binary "
                        "sign-bit/Hamming, flat INT8 SQ, IVF-SQ8 (probed "
                        "byte-coded residuals), residual IVFADC, or "
                        "OPQ-permuted residual IVFADC "
                        "(knn-build/--index-dir only)")
    p.add_argument("--index-dir", default=None, metavar="DIR",
                   help="knn: serve from the stored index a knn-build "
                        "run wrote here (no training job re-runs)")
    p.add_argument("--coarse-k", type=int, default=16,
                   help="knn-build (ivfsq/ivfpq): coarse IVF cell count")
    p.add_argument("--target-recall", type=float, default=None,
                   metavar="R",
                   help="knn-graph: auto-size the (nprobe, candidates) "
                        "budget to the cheapest point clearing recall R "
                        "on a sample curve vs the exact ranking")
    p.add_argument("--k", type=int, default=10, help="knn: results per query")
    p.add_argument("--candidates", type=int, default=50,
                   help="knn: stage-1 survivors per query (bq/sq/ivfsq)")
    p.add_argument("--nprobe", type=int, default=2,
                   help="knn (ivfsq): coarse cells probed per query")
    p.add_argument("--units", type=int, default=1_000_000,
                   help="knn: micro-unit quantization scale")
    args = p.parse_args(argv)

    if args.tool == "project" and args.method is None:
        p.error("project: --method rp|pca is required")
    if args.tool == "project" and args.whiten and args.method != "pca":
        p.error("project: --whiten applies to --method pca only")
    if args.tool == "bpe-train" and args.merges <= 0:
        p.error("bpe-train: --merges must be positive")

    if args.tool == "knn":
        if not args.query_ids:
            p.error("knn: --query-ids ID,ID,... is required")
        try:
            knn_ids = [int(x) for x in args.query_ids.split(",") if x.strip()]
        except ValueError:
            p.error(f"knn: --query-ids must be integers, got {args.query_ids!r}")
        if not knn_ids:
            p.error("knn: --query-ids is empty")
        if args.index_dir is None and args.knn_index in (
            "ivfpq", "ivf", "opq"
        ):
            p.error(
                f"knn: the {args.knn_index} tier serves from a stored "
                "index only — run knn-build first, then knn --index-dir "
                "DIR (a one-shot retrain per query set defeats its point)"
            )
    if args.tool == "knn-build":
        if args.knn_index not in (
            "ivf", "bq", "sq", "ivfsq", "ivfpq", "opq"
        ):
            p.error(
                "knn-build: --knn-index ivf|bq|sq|ivfsq|ivfpq|opq is "
                "required"
            )
    if args.tool == "knn-graph":
        if args.index_dir is None:
            p.error("knn-graph: --index-dir DIR (a knn-build output) is "
                    "required — the bulk job serves a stored index only")
        if args.target_recall is not None and not 0 < args.target_recall <= 1:
            p.error("knn-graph: --target-recall must be in (0, 1]")
    if args.index_dir is not None and args.tool not in (
        "knn", "knn-graph", "knn-drift"
    ):
        p.error("--index-dir is knn/knn-graph/knn-drift-only (knn-build's "
                "and knn-extend's OUT is the index dir)")
    if args.tool == "knn-drift" and args.index_dir is None:
        p.error("knn-drift: --index-dir DIR (a knn-build output) is required")
    if args.target_recall is not None and args.tool != "knn-graph":
        p.error("--target-recall is knn-graph-only")

    if args.tool == "select":
        # argparse-level contract checks (no Spark session needed to fail)
        if (args.target is None) == (args.ratios is None):
            p.error("select: exactly one of --target / --ratios is required")
        if args.top_n is None or args.top_n <= 0:
            p.error("select: --top-n N (a positive integer) is required")
        if args.exclude_target and args.target is None:
            p.error("select: --exclude-target needs --target")
        if args.save_ratios is not None and args.target is None:
            p.error("select: --save-ratios needs --target (training run)")

    if args.decontaminate_bloom and args.decontaminate is None:
        p.error("curate: --decontaminate-bloom needs --decontaminate BENCH")
    if args.bloom_bits_per_key is not None and not args.decontaminate_bloom:
        p.error("curate: --bloom-bits-per-key needs --decontaminate-bloom")
    if args.tool != "sign" and (
        args.ledger is not None
        or args.generation is not None
        or args.from_generation is not None
    ):
        p.error("--ledger/--generation/--from-generation are sign-only")
    if args.from_generation is not None and args.ledger is None:
        p.error("sign: --from-generation needs --ledger")
    if args.tool == "ledger-compact":
        if not args.keys or not [
            k for k in args.keys.split(",") if k.strip()
        ]:
            p.error(
                "ledger-compact: --keys K1,K2 is required (non-empty "
                "column names)"
            )
        if args.output != "-":
            p.error(
                "ledger-compact folds IN in place (a table format's "
                "OPTIMIZE) — pass '-' as OUT; it does not write a copy"
            )
    if args.tool != "ledger-compact" and (
        args.keys is not None or args.through is not None
    ):
        p.error("--keys/--through are ledger-compact-only")

    if args.tool == "knn-flip":
        # IN is a knn-build index dir; OUT is the serving ROOT whose
        # CURRENT.json pointer every serving job resolves through.
        # Pure filesystem (validation + tmp/rename atomicity live in
        # set_current_index) — no Spark session is started.
        import json

        from hadoop_tfidf_spark.operators.index_store import (
            set_current_index,
        )

        target = set_current_index(args.output, args.input)
        print(json.dumps({"root": args.output, "current": target},
                         sort_keys=True))
        return

    from hadoop_tfidf_spark.corpus import tokenize
    from hadoop_tfidf_spark.search import query_term_bag, rank, search, tfidf_rank
    from hadoop_tfidf_spark.session import get_spark
    from hadoop_tfidf_spark.tfidf import doc_word_count, term_frequency, tfidf

    spark = get_spark(app_name=f"hadoop_tfidf_spark_{args.tool}")

    if args.tool == "explain":
        # IN is a declared-query name (any __spark_entry__.queries()
        # key); OUT is the sf directory to plan against. Executes the
        # query and prints its post-AQE physical-plan operator census as
        # one JSON line — the per-query slice of tools/gen_plans_doc.py
        # for interactive plan-shape review ("did my filter push down?").
        import dataclasses
        import json

        import __spark_entry__ as entrymod
        from hadoop_tfidf_spark.plans import plan_stats

        qs = entrymod.queries()
        if args.input not in qs:
            p.error(
                f"explain: unknown query {args.input!r} "
                f"({len(qs)} registered — see COVERAGE.md)"
            )
        stats = plan_stats(qs[args.input](spark, args.output))
        print(json.dumps({"query": args.input, **dataclasses.asdict(stats)}))
        spark.stop()
        return

    if args.tool == "frontier":
        # IN is the sf directory (documents/embeddings parquet tables);
        # OUT gets the six-tier (tier, bytes_per_vec, n_hits, recall)
        # table — the recall-vs-bytes dashboard a user picking a
        # quantization tier wants — which also prints as one JSON line.
        # One collect of six rows; every tier chain is the gate-audited
        # plan (see extensions.q_sim_tier_frontier).
        import json

        from hadoop_tfidf_spark.extensions import q_sim_tier_frontier
        from hadoop_tfidf_spark.functions.literals import _local_relation

        out = q_sim_tier_frontier(spark, args.input)
        rows = out.collect()
        print(
            json.dumps(
                {"frontier": [r.asDict() for r in rows]}, sort_keys=True
            )
        )
        _write(
            _local_relation(
                spark, rows,
                "tier STRING, bytes_per_vec BIGINT, n_hits BIGINT, recall DOUBLE",
            ),
            args.output,
            args.format,
        )
        spark.stop()
        return

    if args.tool == "knn-build":
        # IN is an embeddings parquet (vec_id, embedding); OUT is the
        # index directory — training runs HERE, once; `knn --index-dir`
        # then serves without re-running any training job. Prints a
        # one-line JSON census of what was trained and stored.
        import json

        from hadoop_tfidf_spark.operators.index_store import (
            build_knn_index,
            load_index,
        )

        emb = spark.read.parquet(args.input)
        kind = {"ivfpq": "ivfpq_res", "opq": "opq_ivfpq"}.get(
            args.knn_index, args.knn_index
        )
        build_knn_index(
            emb, kind, args.output,
            units=args.units, coarse_k=args.coarse_k,
        )
        idx = load_index(spark, args.output)
        print(json.dumps({
            "kind": idx.kind, "path": args.output,
            "params": idx.params,
            "artifacts": sorted(idx.artifacts),
            "tables": sorted(idx.tables),
        }, sort_keys=True))
        spark.stop()
        return

    if args.tool == "knn-extend":
        # IN is the NEW CRAWL's embeddings parquet (the delta); OUT is an
        # existing knn-build index dir. Encode-only append against the
        # FROZEN centroids/codebooks/vmax — no Lloyd round, no
        # calibration scan, O(delta) cost — landing as a committed
        # generations/gen=N slice that every later load serves. Run
        # knn-drift afterwards; retrain (knn-build to a NEW dir) when it
        # says so.
        import json

        from hadoop_tfidf_spark.operators.index_store import (
            extend_index,
            load_index,
            resolve_index_dir,
        )

        delta = spark.read.parquet(args.input)
        target = resolve_index_dir(args.output)
        gen = extend_index(spark, target, delta)
        idx = load_index(spark, target)
        print(json.dumps({
            "kind": idx.kind, "path": args.output, "generation": gen,
            "generations": [
                {"generation": g["generation"], "n_rows": g["n_rows"]}
                for g in idx.generations
            ],
        }, sort_keys=True))
        spark.stop()
        return

    if args.tool == "knn-compact":
        # IN is an extended index dir (or a serving root); OUT is the
        # fresh dir the folded single-base version lands in. Pure
        # rewrite — no training job runs; flip serving with knn-flip.
        import json

        from hadoop_tfidf_spark.operators.index_store import (
            KIND_TABLE,
            compact_index,
            load_index,
            resolve_index_dir,
        )

        src_dir = resolve_index_dir(args.input)
        compact_index(spark, src_dir, args.output)
        idx = load_index(spark, args.output)
        print(json.dumps({
            "kind": idx.kind, "from": src_dir, "path": args.output,
            "n_rows": idx.tables[KIND_TABLE[idx.kind]].count(),
            "generations": len(idx.generations),
        }, sort_keys=True))
        spark.stop()
        return

    if args.tool == "knn-drift":
        # IN is the full (all-generations) embeddings parquet; prints the
        # recall-drift telemetry for the stored index: recall@k per
        # query generation vs the exact integer-L2 truth on a bounded
        # sample, and the documented retrain trigger.
        import json

        from hadoop_tfidf_spark.operators.index_store import (
            load_index,
            recall_drift,
            resolve_index_dir,
        )

        emb = spark.read.parquet(args.input)
        idx = load_index(spark, resolve_index_dir(args.index_dir))
        rep = recall_drift(
            emb, idx, k=args.k, candidates=args.candidates,
            nprobe=args.nprobe,
        )
        print(json.dumps(rep, sort_keys=True))
        spark.stop()
        return

    if args.tool == "knn-graph":
        # IN is an embeddings parquet; OUT gets the whole-corpus kNN
        # graph (query_id, vec_id, d2_u, rn) from the STORED ivfpq
        # index — the semantic-dedup / clustering input job. Budget is
        # pinned (--nprobe/--candidates) or auto-sized from
        # --target-recall via the sample recall curve.
        from hadoop_tfidf_spark.operators.index_store import (
            load_index,
            resolve_index_dir,
            serve_knn_bulk,
        )

        emb = spark.read.parquet(args.input)
        idx = load_index(spark, resolve_index_dir(args.index_dir))
        if args.target_recall is not None:
            out = serve_knn_bulk(
                emb, idx, k=args.k, target_recall=args.target_recall
            )
        else:
            out = serve_knn_bulk(
                emb, idx, k=args.k, candidates=args.candidates,
                nprobe=args.nprobe,
            )
        _write(out, args.output, args.format)
        spark.stop()
        return

    if args.tool == "knn":
        # IN is an embeddings parquet (vec_id, embedding); OUT gets the
        # family-shape result (query_id, vec_id, d2_u, rn). With
        # --index-dir: SERVE from the stored index (operators/
        # index_store — zero training jobs, the build-once/serve-many
        # split). Without: one-shot build+search.
        from hadoop_tfidf_spark.operators import similarity as S

        emb = spark.read.parquet(args.input)
        if args.index_dir is not None:
            from hadoop_tfidf_spark.operators.index_store import (
                load_index,
                resolve_index_dir,
                serve_knn,
            )

            idx = load_index(spark, resolve_index_dir(args.index_dir))
            want = {"ivfpq": "ivfpq_res", "opq": "opq_ivfpq"}.get(
                args.knn_index, args.knn_index
            )
            if want is not None and want != idx.kind:
                p.error(
                    f"knn: --index-dir holds a {idx.kind!r} index but "
                    f"--knn-index asked for {want!r}; drop --knn-index "
                    "(the manifest knows the tier) or point at the "
                    "right index"
                )
            out = serve_knn(
                emb, idx, knn_ids, k=args.k,
                candidates=args.candidates, nprobe=args.nprobe,
            )
            _write(out, args.output, args.format)
            spark.stop()
            return
        tier = args.knn_index or "brute"
        in_dim = len(emb.select("embedding").first()["embedding"])
        queries = emb.where(F.col("vec_id").isin(knn_ids))
        if tier == "brute":
            out = S.int_l2_topk(emb, queries, k=args.k, units=args.units)
        elif tier == "bq":
            out = S.bq_topk(
                emb, queries, k=args.k, candidates=args.candidates,
                units=args.units, in_dim=in_dim,
            )
        elif tier == "sq":
            out = S.sq_topk(
                emb, queries, k=args.k, candidates=args.candidates,
                units=args.units, in_dim=in_dim,
            )
        else:  # ivfsq
            out = S.ivfsq_topk(
                emb, knn_ids, k=args.k, candidates=args.candidates,
                nprobe=args.nprobe, units=args.units, in_dim=in_dim,
            )
        _write(out, args.output, args.format)
        spark.stop()
        return

    if args.tool == "compact":
        # table maintenance, not a query: IN is a parquet table of ANY
        # schema; prints the before/after census as one JSON line
        import json

        from hadoop_tfidf_spark.sinks import compact_parquet

        stats = compact_parquet(
            spark, args.input, args.output, target_file_mb=args.target_file_mb
        )
        print(json.dumps(stats))
        spark.stop()
        return

    if args.tool == "sign":
        # signature-ledger maintenance (operators/dedup): IN is the new
        # crawl's corpus; OUT the ledger root. Fresh ledger: sign every
        # doc (content hash + row-local MinHash columns). With --ledger:
        # the O(delta) crawl-over-crawl advance — diff against the
        # STORED content hashes, carry unchanged rows, re-sign only the
        # dirty slice; the old generation's text is never read. Prints
        # a one-line JSON census (generation written, row/status
        # counts) so operators can log the crawl delta.
        import glob as _glob
        import json
        import os as _os

        from hadoop_tfidf_spark.operators.dedup import (
            delta_sign,
            diff_from_ledger,
            read_generation,
            sign_generation,
            write_generation,
        )

        def _guard_fresh_target(gen: int) -> None:
            # write_generation overwrites; a ledger is history — refuse
            # to silently destroy an existing generation (re-run with an
            # explicit unused --generation, or remove the dir first)
            if _os.path.isdir(f"{args.output}/generation={gen}"):
                p.error(
                    f"sign: {args.output}/generation={gen} already "
                    "exists; refusing to overwrite ledger history — "
                    "pass an unused --generation"
                )

        docs = _load(spark, args.input)
        if args.ledger is None:
            gen = args.generation if args.generation is not None else 0
            _guard_fresh_target(gen)
            out = write_generation(sign_generation(docs), args.output, gen)
            stats = {"generation": gen, "path": out,
                     "rows": spark.read.parquet(out).count(), "mode": "full"}
        else:
            gens = sorted(
                int(_os.path.basename(d).split("=", 1)[1])
                for d in _glob.glob(f"{args.ledger}/generation=*")
            )
            if not gens:
                p.error(f"sign: no generation=* dirs under {args.ledger}")
            src = (
                args.from_generation
                if args.from_generation is not None
                else gens[-1]
            )
            if src not in gens:
                p.error(f"sign: --from-generation {src} not in {gens}")
            gen = args.generation if args.generation is not None else src + 1
            _guard_fresh_target(gen)
            old_sigs = read_generation(spark, args.ledger, src)
            # ONE hash-and-join pass feeds both the census and the
            # advance: persist the diff, collect the status counts,
            # then hand the same relation to delta_sign (its diff=
            # parameter exists for exactly this sharing)
            diff = diff_from_ledger(old_sigs, docs).persist()
            counts = {
                r["status"]: r["n"]
                for r in diff.groupBy("status")
                .agg(F.count("*").alias("n")).collect()
            }
            out = write_generation(
                delta_sign(old_sigs, docs, diff=diff), args.output, gen
            )
            diff.unpersist()
            stats = {"generation": gen, "path": out,
                     "rows": spark.read.parquet(out).count(),
                     "mode": "delta", "from_generation": src,
                     "diff": {k: counts.get(k, 0) for k in
                              ("added", "changed", "unchanged", "removed")}}
        print(json.dumps(stats))
        spark.stop()
        return

    if args.tool == "ledger-compact":
        # update-ledger maintenance (streaming/ledger): IN is the
        # batch_id=N ledger root an update-mode sink wrote; OUT is
        # ignored (in-place fold, like a table format's OPTIMIZE — pass
        # "-"). Folds generations <= --through (default: all but the
        # newest, the same policy the scale tool prices) into one base;
        # reconstruction-invariant, crash-safe swap, replay-guarded.
        # Prefer ledger_upsert(compact_every=N) to automate this inside
        # the stream itself.
        import json

        from hadoop_tfidf_spark.streaming.ledger import (
            compact_ledger,
            ledger_generations,
        )

        gens = ledger_generations(args.input)
        if not gens:
            p.error(f"ledger-compact: no batch_id=* dirs under {args.input}")
        through = args.through if args.through is not None else gens[-1] - 1
        if through >= gens[-1]:
            # folding the newest generation (or beyond) either wedges a
            # live stream on its guaranteed at-least-once replay (base's
            # _COMPACTED marker) or, past the newest id, plants a base
            # that SHADOWS every future upsert until batch ids catch up
            # — the same reason compact_every folds through B-1
            p.error(
                f"ledger-compact: --through {through} >= newest "
                f"generation {gens[-1]}; fold at most {gens[-1] - 1} so "
                "replays and future upserts stay ahead of the base"
            )
        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
        folded = compact_ledger(spark, args.input, keys, through=through)
        print(json.dumps({
            "through": through,
            "folded_generations": folded,
            "generations_on_disk": ledger_generations(args.input),
        }))
        spark.stop()
        return

    if args.tool == "bpe-train":
        from hadoop_tfidf_spark.functions.literals import _local_relation
        from hadoop_tfidf_spark.functions.text import bpe_train
        from hadoop_tfidf_spark.sinks import write_parquet

        docs = _load(spark, args.input)
        merges, vocab = bpe_train(docs, n_merges=args.merges)
        # the symbols column is an array — parquet only (the vocab is a
        # machine artifact for bpe_token_counts, not a report)
        write_parquet(vocab, args.output)
        if args.save_merges is not None:
            write_parquet(
                _local_relation(
                    spark,
                    [(i, a, b) for i, (a, b) in enumerate(merges)],
                    "idx INT, left STRING, right STRING",
                ),
                args.save_merges,
            )
        vocab.unpersist()  # bpe_train returns its persisted final round
        spark.stop()
        return

    if args.tool == "project":
        from hadoop_tfidf_spark.operators import similarity as S
        from hadoop_tfidf_spark.sinks import write_parquet

        emb = spark.read.parquet(args.input)
        if args.method == "rp":
            out = S.random_projection(
                emb, out_dim=args.out_dim, in_dim=args.in_dim
            )
        else:
            comps, lambdas, _ = S.pca_power_build(
                emb, k=args.out_dim, in_dim=args.in_dim
            )
            out = S.pca_project(
                emb, comps, lambdas=lambdas if args.whiten else None
            )
        write_parquet(out, args.output)
        spark.stop()
        return

    if args.tool == "select":
        from hadoop_tfidf_spark.operators.sampling import (
            dsir_importance,
            dsir_ratios,
            dsir_select,
        )
        from hadoop_tfidf_spark.sinks import write_parquet

        # full-column load: the --target expression may reference any
        # input column (source, lang, ...), not just (doc_id, text)
        docs = (
            spark.read.parquet(args.input)
            if args.input.endswith((".parquet", ".pq"))
            else _load(spark, args.input)
        )
        tgt = F.expr(args.target) if args.target is not None else None
        if args.ratios is not None:
            ratios = spark.read.parquet(args.ratios)
        else:
            ratios = dsir_ratios(docs, tgt, n_buckets=args.n_buckets)
            if args.save_ratios is not None:
                # score from the saved table so the written model is
                # PROVEN to be the one this run's scores came from
                write_parquet(ratios, args.save_ratios)
                ratios = spark.read.parquet(args.save_ratios)
        imp = dsir_importance(docs, n_buckets=args.n_buckets, ratios=ratios)
        if args.exclude_target:
            imp = imp.join(
                docs.select("doc_id", tgt.cast("boolean").alias("_t")),
                "doc_id",
            )
            sel = dsir_select(
                imp, args.top_n, exclude_target=F.col("_t")
            ).drop("_t")
        else:
            sel = dsir_select(imp, args.top_n)
        # carry every input column through; the top-n relation is small
        # (AQE broadcasts it from runtime size stats)
        out = docs.join(
            sel.select("doc_id", "n_feats", "dsir_logratio"), "doc_id"
        )
        _write(out, args.output, args.format)
        spark.stop()
        return

    docs = _load(spark, args.input)

    if args.tool == "docwordcount":
        out = doc_word_count(tokenize(docs))
    elif args.tool == "termfrequency":
        out = term_frequency(doc_word_count(tokenize(docs))).select(
            "word", "doc_id", "tf"
        )
    elif args.tool == "tfidf":
        out = tfidf(
            docs,
            num_docs=args.num_docs,
            exact_idf=args.exact_idf,
        ).select("word", "doc_id", "tfidf")
    elif args.tool in ("search", "rank"):
        # query tokenized with the SAME boundary pattern as the corpus
        # (Search.java:225 splits the query with WORD_BOUNDARY, not \s+),
        # so punctuated queries like "data-set" produce identical terms
        from hadoop_tfidf_spark.corpus import REFERENCE_TOKEN_PATTERN

        bag = query_term_bag(
            spark, [("q1", _query_text(args))], pattern=REFERENCE_TOKEN_PATTERN
        )
        t = tfidf(
            docs,
            num_docs=args.num_docs,
            exact_idf=args.exact_idf,
        )
        scored = search(t, bag, dedupe_query=args.dedupe_query).select(
            "doc_id", "score"
        )
        out = (
            rank(scored.withColumn("query_id", F.lit("q1"))).select(
                "doc_id", "score", "rnk"
            )
            if args.tool == "rank"
            else scored
        )
    elif args.tool == "curate":
        from hadoop_tfidf_spark.operators.sampling import pack_sequences
        from hadoop_tfidf_spark.pipeline import curate_corpus

        if args.decontaminate is not None:
            if args.decontaminate_bloom:
                from hadoop_tfidf_spark.functions.text import (
                    bloom_bitmap,
                    bloom_geometry,
                    decontaminate_bloom,
                )
                from hadoop_tfidf_spark.operators.dedup import shingles

                bench = _load(spark, args.decontaminate)
                geo: tuple[int, ...] = ()
                if args.bloom_bits_per_key is not None:
                    # production sizing: one count(distinct) over the
                    # (static, benchmark-sized) shingle set prices the
                    # filter; the corpus side never runs extra work
                    n = (
                        shingles(bench, k=3)
                        .select("shingle")
                        .distinct()
                        .count()
                    )
                    if n == 0:
                        p.error(
                            "curate: --bloom-bits-per-key: the benchmark "
                            "corpus has no 3-gram shingles (every doc "
                            "shorter than 3 words) — nothing to size "
                            "against"
                        )
                    geo = bloom_geometry(
                        n, bits_per_key=args.bloom_bits_per_key
                    )
                docs = decontaminate_bloom(docs, bloom_bitmap(bench, 3, *geo))
            else:
                from hadoop_tfidf_spark.functions.text import decontaminate

                docs = decontaminate(docs, _load(spark, args.decontaminate))
        splits = None
        if args.splits is not None:
            splits = {}
            for part in args.splits.split(","):
                name, eq, pct = part.partition("=")
                if not eq or not name.strip() or not pct.strip().isdigit():
                    p.error(
                        f"--splits entry {part!r} is not NAME=PCT "
                        "(non-negative integer percentages, e.g. "
                        "train=90,valid=5,test=5)"
                    )
                if name.strip() in splits:
                    p.error(
                        f"--splits names a split twice: {name.strip()!r}"
                    )
                splits[name.strip()] = int(pct)
            # isdigit() rejects negatives
            if sum(splits.values()) != 100:
                p.error(
                    "--splits percentages must sum to 100, got "
                    f"{sum(splits.values())} from {args.splits!r}"
                )
        curated = curate_corpus(
            docs,
            lang=args.lang,
            min_quality=args.min_quality,
            splits=splits,
            max_bucket_size=args.max_bucket_size,
            keep_text=args.pack is not None,
            embeddings=(
                spark.read.parquet(args.semantic_dedup)
                if args.semantic_dedup is not None
                else None
            ),
            semantic_threshold=args.semantic_threshold,
        )
        out = (
            pack_sequences(
                curated.select("doc_id", "text", "split"),
                budget=args.pack,
                partition_by=["split"],
            )
            if args.pack is not None
            else curated
        )
    else:  # tfidfrank
        t = tfidf(
            docs,
            num_docs=args.num_docs,
            exact_idf=args.exact_idf,
        ).select("word", "doc_id", "tfidf")
        out = tfidf_rank(t, limit=args.limit)

    _write(out, args.output, args.format)
    spark.stop()


if __name__ == "__main__":
    main()
