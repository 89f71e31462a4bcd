"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, sets up ``SETUP_REPS``
times (the first in a fresh JVM, later ones in a restarted session),
runs the workload's operations in a closed loop, first untimed for the
workload's ``warmup_ops`` operations and then for ``--seconds``, checks
every output, and prints a report line and then, as the last line, the
result object. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
also enables Spark's event log, runs an untraced phase (the baseline for
``trace.overhead_pct.*``) and then a traced phase of ``--seconds`` each,
and reports the per-layer metrics. Exit code: 0 when every check passed,
1 when one failed, 2 when the benchmark could not run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT_ROOT = os.path.join(ROOT, ".bench_out")
SETUP_REPS = 2
#: Cap on the untimed warm-up loop (each workload's ``warmup_ops``
#: operations), so a slow host cannot push a run past its time limit.
WARMUP_MAX_S = 20.0
DRIVER_MEM = "1g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """``{name: unit}`` of the end-to-end and per-layer metrics, as
    ``BENCHMARK.json`` at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark's parallelism: half the cores this process may use. The other
    half keeps room for what runs beside the tasks (the driver's planning
    threads, JIT compilers, garbage collection, the Python driver), so a
    neighbour taking some of the machine's CPU time slows an operation
    less."""
    return max(1, cores() // 2)


def pin_environment(work: str, trace: bool) -> None:
    """Spark parallelism from :func:`spark_cpus`; every file Spark, the
    JVM and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    confs = [
        "spark.ui.showConsoleProgress=false",
        # a fixed, pre-touched heap keeps the JVM's resident size from
        # depending on when garbage collection happened to grow the heap
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.rolling.enabled=false",
                  "spark.eventLog.compress=false", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{c}'" for c in confs) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # even when stopping failed (a run terminated mid-call), end the
        # JVM: the gateway process exits when its stdin closes
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Loop:
    """Closed-loop driver: one operation at a time until the deadline. An
    operation returns ``(kind, measure, problems)``, ``measure`` holding
    its wall and process-tree CPU seconds."""

    def __init__(self):
        self.latencies: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, op, seconds: float, start_index: int = 0,
            max_ops: int | None = None) -> None:
        deadline = time.perf_counter() + seconds
        i = start_index
        while time.perf_counter() < deadline and (
                max_ops is None or i - start_index < max_ops):
            self.attempted += 1
            try:
                kind, m, problems = op(i)
            except Exception as e:  # an operation that raised counts as failed
                self.failed += 1
                self.problems.append(f"op {i} raised {type(e).__name__}: {e}"[:300])
            else:
                self.latencies.setdefault(kind, []).append(m.wall)
                self.cpu.setdefault(kind, []).append(m.cpu)
                if problems:
                    self.failed += 1
                    self.problems.extend(problems)
            i += 1

    @property
    def done(self) -> int:
        return sum(map(len, self.latencies.values()))

    def _mix_median_ms(self, samples: dict[str, list[float]]) -> float:
        """Each operation kind's median, weighted by its share of the
        operations (one median over kinds of different cost falls between
        their modes and jumps with the mix)."""
        return 1e3 * sum(len(xs) * statistics.median(xs)
                         for xs in samples.values()) / self.done

    def e2e(self) -> dict:
        """``op_p50_ms`` (wall) and ``op_cpu_ms`` (CPU of the driver, the
        JVM and its Python workers), each a mix-weighted median."""
        if not self.done:
            return {}
        return {"op_p50_ms": self._mix_median_ms(self.latencies),
                "op_cpu_ms": self._mix_median_ms(self.cpu)}


def pct_change(new: float | None, old: float | None) -> float:
    return 100.0 * (new - old) / old if new is not None and old else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import hadoop_tfidf_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    end_to_end, per_layer = metric_units()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    wl = None
    try:
        pin_environment(work, bool(args.trace))
        from hadoop_tfidf_spark.session import get_spark
        import spans as sp
        from stats import summarize
        from proc import host_ticks, peak_rss_mb

        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        inputs = wl.generate()
        gen_s = time.perf_counter() - t0

        setup_s, start_s = [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            start_s.append(time.perf_counter() - t0)
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)

        warm = Loop()
        warm.run(wl.op, WARMUP_MAX_S, max_ops=wl.warmup_ops)
        loop = Loop()
        steal0, all0 = host_ticks()
        loop.run(wl.op, args.seconds, start_index=warm.attempted)
        steal1, all1 = host_ticks()
        e2e = loop.e2e()
        report = wl.report(loop)
        traced = None
        if args.trace:
            tracer = sp.Tracer(spark.sparkContext)
            wl.trace_prologue(tracer)
            traced = Loop()
            traced.run(lambda i: wl.traced_op(i, tracer), args.seconds,
                       start_index=warm.attempted + loop.attempted)
        e2e["setup_s"] = statistics.median(setup_s)
        e2e["peak_rss_mb"] = peak_rss_mb()
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        run_problems = wl.run_problems()
        stop_spark(spark)
        spark = None

        loops = [warm, loop] + ([traced] if traced else [])
        attempted = sum(lp.attempted for lp in loops) + len(run_problems)
        failed = sum(lp.failed for lp in loops) + len(run_problems)
        problems = [p for lp in loops for p in lp.problems] + run_problems
        if args.trace:
            events = sp.read_event_counters(os.path.join(work, "events"))
            layer = dict.fromkeys(per_layer, 0.0)
            layer["session.start_s"] = statistics.median(start_s)
            layer.update(workloads.session_layer(tracer.spans, events, wl.full_spans,
                                                   spark_cpus()))
            layer.update(wl.layers(tracer.spans, events))
            traced_e2e = traced.e2e()
            for k in ("op_p50_ms", "op_cpu_ms"):
                layer[f"trace.overhead_pct.{k}"] = pct_change(traced_e2e.get(k), e2e.get(k))
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.write(os.path.join(
                OUT_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = {k: {"value": float(layer[k]), "unit": u}
                       for k, u in per_layer.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in end_to_end.items() if k in e2e}

        import pyspark
        print(json.dumps({"report": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace,
            "env": {"cores": cores(), "spark_cpus": spark_cpus(),
                    "pyspark": pyspark.__version__, "java": java,
                    "python": sys.version.split()[0], "driver_mem": DRIVER_MEM},
            "inputs": inputs, "gen_s": gen_s, "setup_samples_s": setup_s,
            "setup_parts_s": wl.setup_parts,
            "op_ms": {k: summarize([1e3 * x for x in xs])
                      for k, xs in loop.latencies.items()},
            "op_latencies_ms": {k: [round(1e3 * x, 1) for x in xs]
                                for k, xs in loop.latencies.items()},
            "end_to_end": e2e, **report,
            "op_cpu_ms": {k: summarize([1e3 * x for x in xs])
                          for k, xs in loop.cpu.items()},
            "op_cpu_samples_ms": {k: [round(1e3 * x) for x in xs]
                                  for k, xs in loop.cpu.items()},
            "loop_steal_pct": 100.0 * (steal1 - steal0) / max(all1 - all0, 1),
            "fail_ratio": failed / attempted if attempted else 0.0,
            "problems": problems[:10],
        }}, sort_keys=True, default=str))
        correct = failed == 0 and all(k in e2e for k in end_to_end)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        except Exception:
            traceback.print_exc()
        if wl is not None:
            wl.close()
        # retried: a process that has not yet exited can still be writing here
        for _ in range(10):
            shutil.rmtree(work, ignore_errors=True)
            if not os.path.exists(work):
                break
            time.sleep(1)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
