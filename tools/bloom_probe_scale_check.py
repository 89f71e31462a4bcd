"""Measure the two Bloom probe forms by filter size: the same
contamination verdict computed with the filter (a) in memory, probed as
one parsed plan-literal expression (whole-stage codegen, zero Python —
but the words ride inside every serialized plan/task closure), and (b)
stored as parquet, probed by an Arrow ``mapInPandas`` stage that loads
the words once per Python worker (the plan stays tiny).

Geometries are synthetic (seeded pseudo-random words, 4 shards) so the
cost curve isolates FILTER SIZE; the corpus is the sf-dir documents
table. Each point times one end-to-end ``sum(n_hits)`` per form (min
over trials; a bare ``count()`` lets the optimizer prune the literal
probe away), plus the literal expression's one-time plan-construction
cost, which is the part that grows with geometry even before execution.

Usage: python tools/bloom_probe_scale_check.py [trials]
Prints ONE JSON line; SCALE.md records the adjudicated results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: total packed words per measured point (× 8 bytes = filter footprint);
#: override with SPARK_GRAFT_BLOOM_SIZES=comma,separated,words. The
#: literal form's cost grows with geometry (that IS the measurement),
#: so cap the largest literal point via SPARK_GRAFT_BLOOM_LIT_CAP words
#: — beyond it only the stored form runs and the literal is recorded as
#: null.
SIZES = [
    int(s)
    for s in os.environ.get(
        "SPARK_GRAFT_BLOOM_SIZES", "65536,1048576,8388608"
    ).split(",")
]
LIT_CAP = int(os.environ.get("SPARK_GRAFT_BLOOM_LIT_CAP", str(2_097_152)))
N_SHARDS = 4


def _probe(verdicts) -> None:
    from pyspark.sql import functions as F

    verdicts.agg(F.sum("n_hits")).collect()


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import json as _json
    import shutil
    import tempfile

    from hadoop_tfidf_spark.functions.text import (
        BloomFilter,
        contamination_bloom_stateless,
        contamination_bloom_stored,
    )
    from hadoop_tfidf_spark.session import get_spark

    spark = get_spark("bloom_probe_scale_check")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    rng = np.random.default_rng(42)
    out = {"sf_dir": SF_DIR, "n_docs": n_docs, "trials": trials, "points": []}
    for total_words in SIZES:
        wps = total_words // N_SHARDS
        bits = wps * 32
        words = rng.integers(0, 1 << 32, size=total_words, dtype=np.int64)
        bloom = BloomFilter([int(w) for w in words], bits, N_SHARDS, 4, 3)
        point = {
            "total_words": total_words,
            "filter_mb": round(total_words * 8 / 2**20, 1),
        }
        # stored-filter twin of the same geometry: words parquet in the
        # bloom_store_sharded layout + geometry marker, probed from
        # storage with the per-worker cache COLD on the first trial.
        # Written with pyarrow (the loader reads it with pyarrow too):
        # the random words are dense, one file per shard.
        fdir = tempfile.mkdtemp(prefix="bloom_stored_")
        for shard in range(N_SHARDS):
            os.makedirs(f"{fdir}/words/shard={shard}")
            pq.write_table(
                pa.table({
                    "w_idx": pa.array(np.arange(wps, dtype=np.int32)),
                    "bits": pa.array(words[shard * wps : (shard + 1) * wps]),
                }),
                f"{fdir}/words/shard={shard}/part-00000.parquet",
            )
        with open(f"{fdir}/geometry.json", "w") as fh:
            _json.dump(
                {"format_version": 1, "bits_per_shard": bits,
                 "n_shards": N_SHARDS, "hashes": 4, "k": 3}, fh,
            )
        run_literal = total_words <= LIT_CAP
        if run_literal:
            t0 = time.monotonic()
            lit_df = contamination_bloom_stateless(docs, bloom)
            point["literal_plan_build_s"] = round(time.monotonic() - t0, 3)
        else:
            point["literal_plan_build_s"] = None
        lit_times, stored_times = [], []
        for t in range(trials):
            if run_literal:
                t0 = time.monotonic()
                _probe(lit_df)
                lit_times.append(time.monotonic() - t0)
            t0 = time.monotonic()
            _probe(contamination_bloom_stored(docs, fdir))
            el = time.monotonic() - t0
            if t == 0:
                point["stored_cold_s"] = round(el, 3)  # incl. worker load
            stored_times.append(el)
        point["literal_s"] = round(min(lit_times), 3) if lit_times else None
        point["stored_s"] = round(min(stored_times), 3)
        shutil.rmtree(fdir, ignore_errors=True)
        out["points"].append(point)
        print(f"point done: {point}", file=sys.stderr)
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
