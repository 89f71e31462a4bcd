"""Steadiness record: run the benchmark on several seeds per workload and
summarize each end-to-end metric by median, quartiles and spread
(inter-quartile distance as a share of the median).

    python3 perfbench/steadiness.py --seeds 10 --out perfbench/steadiness.json

Run from the repository root. ``--seconds`` defaults to ``run_seconds``
from ``BENCHMARK.json``; the record also keeps each run's wall time and,
from the report line, the wall-clock latency (``op_p50_ms`` and the
query_serve lexical / kNN split) and the host's steal share.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "rc": proc.returncode, "wall_s": wall,
                "stderr": proc.stderr[-2000:]}
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    extra = {}
    for key in ("lexical_ms", "knn_ms"):
        if key in report:
            extra[f"{key[:-3]}_p50_ms"] = report[key]["p50"]
    for key, value in report["end_to_end"].items():
        if key not in result["metrics"]:
            extra[key] = value
    for key in ("knn_recall_at_10", "curate_dup_recall", "loop_steal_pct"):
        if report.get(key) is not None:
            extra[key] = report[key]
    return {"seed": seed, "rc": proc.returncode, "wall_s": wall,
            "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "ops": sum(s["n"] for s in report["op_ms"].values()),
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "extra": extra}


def summarize(runs: list[dict], key: str) -> dict:
    out = {}
    ok = [r for r in runs if "metrics" in r]
    names = sorted({m for r in ok for m in r[key]})
    for name in names:
        vals = [r[key][name] for r in ok if name in r[key]]
        if len(vals) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread(vals),
                     "n": len(vals)}
    return out


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--out", required=True)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            runs.append(run_once(w, seed, args.seconds))
            print(json.dumps({"workload": w, **runs[-1]}), flush=True)
        record["workloads"][w] = {
            "runs": runs,
            "end_to_end": summarize(runs, "metrics"),
            "report": summarize(runs, "extra"),
        }
        for name, s in record["workloads"][w]["end_to_end"].items():
            b = bounds.get(name)
            flag = "" if b is None or s["spread"] < b / 3 else "  <-- spread >= bound/3"
            print(f"{w:12s} {name:14s} median {s['median']:.4g} spread "
                  f"{s['spread']:.3f} bound {b}{flag}", flush=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
