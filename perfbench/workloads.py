"""The three workloads, each driven through the package's public functions.

A workload generates its inputs from the seed, sets up (builds and loads
what its operations read, then warms up), and runs one operation at a
time in a closed loop. ``op`` is the untraced operation the end-to-end
metrics time; ``traced_op`` runs the same operation with every layer
boundary forced through a ``noop`` write under its own span, and
``layers`` turns those spans plus the event-log counters into per-layer
metrics. Output checks run after each operation, outside its timing.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import time

import checks
import gen
import spans as sp
from proc import Measure
from stats import summarize

# Package modules are reached through importlib: the package root
# re-exports functions named ``tfidf`` and ``search``, which shadow the
# modules of the same name as attributes.
corpus = importlib.import_module("hadoop_tfidf_spark.corpus")
tfidf_mod = importlib.import_module("hadoop_tfidf_spark.tfidf")
sinks = importlib.import_module("hadoop_tfidf_spark.sinks")
search_mod = importlib.import_module("hadoop_tfidf_spark.search")
pipeline = importlib.import_module("hadoop_tfidf_spark.pipeline")
text_fns = importlib.import_module("hadoop_tfidf_spark.functions.text")
dedup = importlib.import_module("hadoop_tfidf_spark.operators.dedup")
sampling = importlib.import_module("hadoop_tfidf_spark.operators.sampling")
index_store = importlib.import_module("hadoop_tfidf_spark.operators.index_store")
inspect_plans = importlib.import_module("hadoop_tfidf_spark.plans.inspect")

from pyspark.sql import functions as F  # noqa: E402

K = 10
#: ivfpq_res build and serve parameters for query_serve (m=4 sub-spaces
#: train in about half the time of m=8, which keeps set-up short).
KNN_BUILD = {"coarse_k": 16, "coarse_iters": 1, "m": 4, "pq_k": 16}
KNN_NPROBE = 3
#: Run-level floors checked on every query_serve / curate run.
KNN_RECALL_FLOOR = 0.15
DUP_RECALL_FLOOR = 0.9
#: Untimed operations at the end of each index_build / curate set-up: the
#: first build after a session start runs measurably slower.
WARMUP_OPS = 1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_build(spark, tracer, tid: str, corpus_dir: str, out_dir: str) -> None:
    """The index build with each layer boundary forced on its own: the
    scan+tokenize, the (word, doc) count, the TF-IDF relation, then the
    full build rewritten to parquet from a cleared cache (so the write
    span runs exactly the untraced program)."""
    docs = corpus.load_docs(spark, corpus_dir)
    with tracer.span("corpus.tokenize.plan", tid):
        tokens = corpus.tokenize(docs)
    with tracer.span("corpus.tokenize", tid):
        noop(tokens)
    with tracer.span("tfidf.doc_word_count", tid, upstream="corpus.tokenize"):
        noop(tfidf_mod.doc_word_count(tokens))
    with tracer.span("tfidf.plan", tid):
        out = tfidf_mod.tfidf(docs, tokens=tokens, persist_intermediate=True)
    with tracer.span("tfidf.exec", tid, upstream="tfidf.doc_word_count"):
        noop(out)
    stats = inspect_plans.plan_stats(out, run=False)
    spark.catalog.clearCache()
    with tracer.span("sinks.write_parquet", tid, upstream="tfidf.exec",
                     parquet_scans=stats.parquet_scans,
                     shuffle_exchanges=stats.shuffle_exchanges):
        docs = corpus.load_docs(spark, corpus_dir)
        out = tfidf_mod.tfidf(docs, tokens=corpus.tokenize(docs),
                              persist_intermediate=True)
        sinks.write_parquet(out, out_dir)
    spark.catalog.clearCache()


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path)
             for f in fs if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


def session_layer(spans, events, full_names: set[str], cores: int) -> dict:
    """``session.*`` per operation, from the spans that run the whole
    untraced program (plus their children)."""
    roots = [s for s in spans if s.name in full_names]
    if not roots:
        return {}
    ids = {s.span_id for s in roots}
    fam = [s for s in spans if s.span_id in ids or s.parent in ids]
    c = sp.counters_for(fam, events)
    n = len(roots)
    wall = sum(s.dur for s in roots)
    return {
        "session.executor_run_s": c["run_s"] / n,
        "session.executor_cpu_s": c["cpu_s"] / n,
        "session.gc_s": c["gc_s"] / n,
        "session.core_util": c["run_s"] / (wall * cores) if wall else 0.0,
        "session.jobs": c["jobs"] / n,
        "session.stages": c["stages"] / n,
        "session.tasks": c["tasks"] / n,
        "session.shuffle_write_bytes": c["shuffle_write_bytes"] / n,
        "session.spill_bytes": c["spill_bytes"] / n,
    }


def build_layers(spans, events, con, input_dir: str, out_dir: str) -> dict:
    """``corpus.*``, ``tfidf.*`` and ``sinks.*`` from traced builds."""
    self_t = sp.lineage_self(spans)

    def med(name, f):
        xs = [f(s) for s in spans if s.name == name]
        return statistics.median(xs) if xs else 0.0

    def cnt(name, key):
        return med(name, lambda s: sp.counters_for([s], events)[key])

    rows, vocab = con.execute(
        f"SELECT count(*), count(DISTINCT word) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    written, files = _dir_bytes(out_dir)
    input_bytes, _ = _dir_bytes(input_dir)
    tokens = con.execute(
        f"SELECT sum(len(string_split(text, ' '))) FROM read_parquet('{input_dir}/*.parquet')"
    ).fetchone()[0]
    return {
        "corpus.tokenize_s": med("corpus.tokenize", lambda s: self_t[s.span_id]),
        "corpus.tokens": float(tokens),
        "corpus.input_bytes": float(input_bytes),
        "tfidf.plan_ms": 1e3 * med("tfidf.plan", lambda s: s.dur),
        "tfidf.count_s": med("tfidf.doc_word_count", lambda s: self_t[s.span_id]),
        "tfidf.exec_s": med("tfidf.exec", lambda s: self_t[s.span_id]),
        "tfidf.pairs": float(rows),
        "tfidf.vocab": float(vocab),
        "tfidf.shuffle_bytes": cnt("tfidf.exec", "shuffle_write_bytes"),
        "tfidf.parquet_scans": med("sinks.write_parquet", lambda s: s.attrs["parquet_scans"]),
        "tfidf.shuffle_exchanges": med("sinks.write_parquet",
                                       lambda s: s.attrs["shuffle_exchanges"]),
        "sinks.write_s": med("sinks.write_parquet", lambda s: self_t[s.span_id]),
        "sinks.bytes_written": float(written),
        "sinks.files": float(files),
        "sinks.bytes_per_input_byte": written / input_bytes if input_bytes else 0.0,
    }


class Workload:
    """Shared plumbing: ``self.spark`` is set by :meth:`setup`."""

    name = ""
    #: Names of traced spans that run the complete untraced operation.
    full_spans: set[str] = set()
    #: Untimed operations between set-up and the measured loop. A count,
    #: not a time: the JVM's code keeps getting faster with the operations
    #: run (the JIT), so a fixed count starts every run's measured loop at
    #: the same point of that curve, however busy the host is.
    warmup_ops = 0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None
        self.con = checks.connect()
        self.setup_parts: dict[str, list[float]] = {}

    def _part(self, key: str, t0: float) -> None:
        self.setup_parts.setdefault(key, []).append(time.perf_counter() - t0)

    def trace_prologue(self, tracer) -> None:
        """Traced work run once before the traced operations."""

    def run_problems(self) -> list[str]:
        """Checks over the whole run (floors on aggregate quality)."""
        return []

    def report(self, loop) -> dict:
        """Workload-specific figures for the report line, under the names
        the end-to-end metrics have on this workload alone."""
        return {}

    def close(self) -> None:
        self.con.close()


class IndexBuild(Workload):
    """load_docs -> tokenize -> tfidf(persist_intermediate) -> write_parquet,
    repeated by one closed-loop caller over a generated corpus."""

    name = "index_build"
    warmup_ops = 2
    full_spans = {"sinks.write_parquet"}
    DOCS, VOCAB, MEAN_LEN = 8_000, 50_000, 100

    def generate(self) -> dict:
        self.corpus_dir = f"{self.work}/corpus"
        facts = gen.gen_corpus(self.seed, self.corpus_dir, self.DOCS, self.VOCAB,
                               self.MEAN_LEN)
        self.tokens = facts["tokens"]
        self.oracle = checks.tfidf_oracle_digest(self.con, self.corpus_dir)
        return {"facts": facts, "hashes": {"corpus": gen.input_hash([self.corpus_dir])}}

    def setup(self, spark, rep: int) -> None:
        # warm-up: the slow first build after a session start
        self.spark = spark
        for _ in range(WARMUP_OPS):
            self.op(-1)

    def op(self, i: int) -> tuple[str, Measure, list[str]]:
        out_dir = f"{self.work}/out"
        with Measure() as m:
            docs = corpus.load_docs(self.spark, self.corpus_dir)
            out = tfidf_mod.tfidf(docs, tokens=corpus.tokenize(docs),
                                  persist_intermediate=True)
            sinks.write_parquet(out, out_dir)
        self.spark.catalog.clearCache()
        return "build", m, checks.check_tfidf(self.con, out_dir, self.oracle)

    def traced_op(self, i: int, tracer) -> tuple[str, Measure, list[str]]:
        out_dir = f"{self.work}/out"
        with Measure() as m, tracer.span("build", f"build-{i}"):
            traced_build(self.spark, tracer, f"build-{i}", self.corpus_dir, out_dir)
        return "build", m, checks.check_tfidf(self.con, out_dir, self.oracle)

    def layers(self, spans, events) -> dict:
        return build_layers(spans, events, self.con, self.corpus_dir, f"{self.work}/out")

    def report(self, loop) -> dict:
        return {"build_tokens_per_s": self.tokens / statistics.median(
            loop.latencies["build"])}


class QueryServe(Workload):
    """One closed-loop client over a stored TF-IDF index and a stored
    ``ivfpq_res`` vector index, alternating lexical and kNN queries."""

    name = "query_serve"
    warmup_ops = 16
    full_spans = {"query.lexical", "query.knn"}
    DOCS, VOCAB, MEAN_LEN = 4_000, 50_000, 100
    VECTORS, DIM = 2_000, 16
    OPS, WARMUP = 4_000, 2

    def generate(self) -> dict:
        w = self.work
        self.corpus_dir, self.vec_dir, self.stream_path = (
            f"{w}/corpus", f"{w}/vectors", f"{w}/queries.jsonl")
        facts = gen.gen_corpus(self.seed, self.corpus_dir, self.DOCS, self.VOCAB,
                               self.MEAN_LEN)
        gen.gen_vectors(self.seed, self.vec_dir, self.VECTORS, self.DIM)
        gen.gen_query_stream(self.seed, self.stream_path, self.OPS, self.VOCAB,
                             self.VECTORS)
        with open(self.stream_path) as f:
            self.stream = [json.loads(line) for line in f]
        self.exact = checks.ExactKnn(self.vec_dir)
        self.lex_oracle: dict[str, list] = {}
        self.recalls: dict[int, float] = {}
        facts.update({"vectors": self.VECTORS, "dim": self.DIM})
        return {"facts": facts, "hashes": {
            "corpus": gen.input_hash([self.corpus_dir]),
            "vectors": gen.input_hash([self.vec_dir]),
            "queries": gen.input_hash([self.stream_path])}}

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        index_dir, ix_dir = f"{self.work}/index-{rep}", f"{self.work}/ivfpq-{rep}"
        t0 = time.perf_counter()
        docs = corpus.load_docs(spark, self.corpus_dir)
        out = tfidf_mod.tfidf(docs, tokens=corpus.tokenize(docs),
                              persist_intermediate=True)
        sinks.write_parquet(
            out.select("word", "doc_id", F.round("tfidf", 6).alias("tfidf")), index_dir)
        spark.catalog.clearCache()
        self._part("tfidf_build_s", t0)
        t0 = time.perf_counter()
        self.emb = spark.read.parquet(self.vec_dir)
        index_store.build_knn_index(self.emb, "ivfpq_res", ix_dir, **KNN_BUILD)
        self._part("index_store.build_s", t0)
        t0 = time.perf_counter()
        self.idx = spark.read.parquet(index_dir)
        self.ix = index_store.load_index(spark, ix_dir)
        self._part("index_store.load_s", t0)
        checks.load_index(self.con, index_dir)
        self.lex_oracle.clear()
        for j in range(self.WARMUP):
            self._run(self.stream[-1 - j])

    def _lexical(self, text: str, qid: str):
        bag = search_mod.query_term_bag(self.spark, [(qid, text)])
        scored = search_mod.search(self.idx, bag).select(
            "query_id", "doc_id", F.round("score", 6).alias("score"))
        return search_mod.rank(scored).where(F.col("rnk") <= K)

    def _knn(self, vec_id: int):
        return index_store.serve_knn(self.emb, self.ix, [vec_id], k=K,
                                     nprobe=KNN_NPROBE)

    def _run(self, q: dict) -> list:
        if q["op"] == "lex":
            return self._lexical(q["text"], "q").collect()
        return self._knn(q["vec_id"]).collect()

    def _check(self, q: dict, rows: list) -> list[str]:
        if q["op"] == "lex":
            if q["text"] not in self.lex_oracle:
                self.lex_oracle[q["text"]] = checks.lexical_oracle(self.con, q["text"], K)
            got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rnk"])]
            return checks.check_lexical(got, self.lex_oracle[q["text"]])
        v = q["vec_id"]
        ids = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rn"])]
        self.recalls[v] = checks.recall(self.exact.truth(v, K), ids)
        return checks.check_knn_shape(v, ids, K)

    def op(self, i: int) -> tuple[str, Measure, list[str]]:
        q = self.stream[i % (self.OPS - self.WARMUP)]
        with Measure() as m:
            rows = self._run(q)
        return q["op"], m, self._check(q, rows)

    def traced_op(self, i: int, tracer) -> tuple[str, Measure, list[str]]:
        q = self.stream[i % (self.OPS - self.WARMUP)]
        tid = f"query-{i}"
        if q["op"] == "lex":
            with Measure() as m, tracer.span("query.lexical", tid):
                with tracer.span("search.plan", tid):
                    df = self._lexical(q["text"], "q")
                with tracer.span("search.exec", tid):
                    rows = df.collect()
        else:
            with Measure() as m, tracer.span("query.knn", tid):
                with tracer.span("similarity.plan", tid):
                    df = self._knn(q["vec_id"])
                with tracer.span("similarity.exec", tid):
                    rows = df.collect()
        return q["op"], m, self._check(q, rows)

    def trace_prologue(self, tracer) -> None:
        """One traced build of the served index, for the ``tfidf.*``
        layer as query_serve's set-up uses it."""
        with tracer.span("build", "index-build"):
            traced_build(self.spark, tracer, "index-build", self.corpus_dir,
                         f"{self.work}/traced-index")

    def run_problems(self) -> list[str]:
        r = self.knn_recall()
        if r is not None and r < KNN_RECALL_FLOOR:
            return [f"kNN recall@{K} {r:.3f} below the floor {KNN_RECALL_FLOOR}"]
        return []

    def knn_recall(self) -> float | None:
        return statistics.mean(self.recalls.values()) if self.recalls else None

    def layers(self, spans, events) -> dict:
        out = build_layers(spans, events, self.con, self.corpus_dir,
                           f"{self.work}/traced-index")

        def per_query(plan, exec_):
            ps = [s for s in spans if s.name == plan]
            es = [s for s in spans if s.name == exec_]
            if not es:
                return None
            c = sp.counters_for(ps + es, events)
            ce = sp.counters_for(es, events)
            n = len(es)
            return {
                "plan_ms": 1e3 * statistics.median(s.dur for s in ps),
                "exec_ms": 1e3 * statistics.median(s.dur for s in es),
                "rows_scanned": ce["input_records"] / n,
                "jobs": c["jobs"] / n, "tasks": c["tasks"] / n,
                "shuffle_bytes": c["shuffle_write_bytes"] / n,
            }

        lex = per_query("search.plan", "search.exec")
        if lex:
            out.update({f"search.{k}": v for k, v in lex.items()})
            out["search.rows_per_result"] = lex["rows_scanned"] / K
        knn = per_query("similarity.plan", "similarity.exec")
        if knn:
            out.update({f"similarity.{k}": v for k, v in knn.items()
                        if k != "shuffle_bytes"})
        out["similarity.recall_at_10"] = self.knn_recall() or 0.0
        out["index_store.build_s"] = statistics.median(self.setup_parts["index_store.build_s"])
        out["index_store.load_ms"] = 1e3 * statistics.median(
            self.setup_parts["index_store.load_s"])
        return out

    def report(self, loop) -> dict:
        return {
            "lexical_ms": summarize([1e3 * x for x in loop.latencies.get("lex", [])]),
            "knn_ms": summarize([1e3 * x for x in loop.latencies.get("knn", [])]),
            "knn_recall_at_10": self.knn_recall(),
            "knn_distinct_queries": len(self.recalls),
        }


class Curate(Workload):
    """curate_corpus -> write_parquet over a corpus with planted exact and
    near duplicates, non-English and short low-quality documents."""

    name = "curate"
    warmup_ops = 4
    full_spans = {"pipeline.write"}
    BASE_DOCS, VOCAB = 4_000, 20_000

    def generate(self) -> dict:
        self.corpus_dir = f"{self.work}/corpus"
        self.out_dir = f"{self.work}/out"
        planted = gen.gen_curation_corpus(self.seed, self.corpus_dir, self.BASE_DOCS,
                                          self.VOCAB)
        self.exact = planted["exact"]
        self.near = planted["near"]
        self.docs = planted["docs"]
        self.dup_recalls: list[float] = []
        return {"facts": {"docs": planted["docs"], "planted_exact": len(self.exact),
                          "planted_near": len(self.near)},
                "hashes": {"corpus": gen.input_hash([self.corpus_dir])}}

    def setup(self, spark, rep: int) -> None:
        # warm-up: the slow first curation run after a session start
        self.spark = spark
        for _ in range(WARMUP_OPS):
            self.op(-1)
        self.dup_recalls.clear()

    def _check(self) -> list[str]:
        problems = checks.check_curated(self.con, self.out_dir, [b for _, b in self.exact])
        kept = checks.kept_ids(self.con, self.out_dir)
        planted = [b for _, b in self.exact + self.near]
        self.dup_recalls.append(sum(b not in kept for b in planted) / len(planted))
        return problems

    def op(self, i: int) -> tuple[str, Measure, list[str]]:
        with Measure() as m:
            docs = corpus.load_docs(self.spark, self.corpus_dir)
            sinks.write_parquet(pipeline.curate_corpus(docs), self.out_dir)
        self.spark.catalog.clearCache()
        return "curate", m, self._check()

    def traced_op(self, i: int, tracer) -> tuple[str, Measure, list[str]]:
        tid = f"curate-{i}"
        spark = self.spark
        with Measure() as m, tracer.span("curate", tid) as root:
            docs = corpus.load_docs(spark, self.corpus_dir)
            pred_lang, _ = text_fns.lang_id_columns(F.col("text"))
            ann = docs.select("doc_id", "text",
                              text_fns.quality_column(F.col("text")).alias("quality"),
                              pred_lang.alias("pred_lang"))
            with tracer.span("text.annotate", tid):
                noop(ann)
            passed = ann.where((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
            exact_kept = dedup.exact_dedup_apply(passed.select("doc_id", "text"))
            with tracer.span("dedup.exact", tid, upstream="text.annotate"):
                noop(exact_kept)
            with tracer.span("sampling.hash_split", tid, upstream="dedup.exact"):
                noop(sampling.hash_split(exact_kept.select("doc_id"), "doc_id",
                                         dict(pipeline.DEFAULT_SPLITS)))
            with tracer.span("dedup.minhash_lsh", tid):
                pairs = dedup.minhash_lsh_dedup(docs.select("doc_id", "text")).collect()
            with tracer.span("pipeline.exec", tid):
                noop(pipeline.curate_corpus(docs))
            spark.catalog.clearCache()
            with tracer.span("pipeline.write", tid, upstream="pipeline.exec"):
                sinks.write_parquet(pipeline.curate_corpus(docs), self.out_dir)
            spark.catalog.clearCache()
        # drop accounting, outside every span
        groups = {(r["en"], r["q"]): r["count"] for r in ann.groupBy(
            (F.col("pred_lang") == "en").alias("en"),
            (F.col("quality") >= 0.5).alias("q")).count().collect()}
        n_pass = groups.get((True, True), 0)
        n_exact = exact_kept.count()
        n_out = len(checks.kept_ids(self.con, self.out_dir))
        planted = {tuple(p) for p in self.exact + self.near}
        cand = {(r["doc_a"], r["doc_b"]) for r in pairs}
        root.attrs.update({
            "dropped_lang": sum(v for (en, _), v in groups.items() if not en),
            "dropped_quality": groups.get((True, False), 0),
            "dropped_exact": n_pass - n_exact,
            "dropped_near": n_exact - n_out,
            "candidate_pairs": len(cand),
            "pair_precision": len(cand & planted) / len(cand) if cand else 0.0,
        })
        return "curate", m, self._check()

    def dup_recall(self) -> float | None:
        return statistics.median(self.dup_recalls) if self.dup_recalls else None

    def run_problems(self) -> list[str]:
        r = self.dup_recall()
        if r is not None and r < DUP_RECALL_FLOOR:
            return [f"planted-duplicate recall {r:.3f} below the floor {DUP_RECALL_FLOOR}"]
        return []

    def layers(self, spans, events) -> dict:
        self_t = sp.lineage_self(spans)

        def med(name, f):
            xs = [f(s) for s in spans if s.name == name]
            return statistics.median(xs) if xs else 0.0

        out = {
            "text.annotate_s": med("text.annotate", lambda s: self_t[s.span_id]),
            "dedup.exact_s": med("dedup.exact", lambda s: self_t[s.span_id]),
            "dedup.minhash_s": med("dedup.minhash_lsh", lambda s: s.dur),
            "sampling.split_s": med("sampling.hash_split", lambda s: self_t[s.span_id]),
            "pipeline.exec_s": med("pipeline.exec", lambda s: s.dur),
            "pipeline.write_s": med("pipeline.write", lambda s: self_t[s.span_id]),
            "dedup.dup_recall": self.dup_recall() or 0.0,
        }
        for key in ("dropped_lang", "dropped_quality", "dropped_exact", "dropped_near"):
            out[f"pipeline.{key}"] = float(med("curate", lambda s: s.attrs[key]))
        for key in ("candidate_pairs", "pair_precision"):
            out[f"dedup.{key}"] = float(med("curate", lambda s: s.attrs[key]))
        return out

    def report(self, loop) -> dict:
        return {"curate_docs_per_s": self.docs / statistics.median(
                    loop.latencies["curate"]),
                "curate_dup_recall": self.dup_recall()}


WORKLOADS = {w.name: w for w in (IndexBuild, QueryServe, Curate)}

