"""Round-16 operators: incremental (encode-only) growth for stored ANN
indexes — frozen-codebook generation appends, crash/commit semantics,
the duplicate-id guard, and recall-drift telemetry with its documented
retrain trigger (VERDICT r15 "Next round" ¶2).

Reference parity note: the reference engine (6 Java MapReduce classes,
no ANN surface) rebuilds everything from scratch per run; crawl-over-
crawl index growth is part of the LLM-data-pipeline extension surface.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _emb(spark, n=60, dim=8, start=0):
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(dim)])
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


_BUILD_KW = dict(units=1000, coarse_k=4, m=2, pq_k=4, pq_iters=1)


def _split(spark):
    """Base corpus (ids not divisible by 5) + the new-crawl delta."""
    emb = _emb(spark, n=60)
    return (
        emb,
        emb.where(F.col("vec_id") % 5 != 0),
        emb.where(F.col("vec_id") % 5 == 0),
    )


# ------------------------------------------------ frozen-artifact appends


def test_extend_index_slice_equals_frozen_encode_all_tiers(spark, tmp_path):
    """For EVERY tier: the stored relation after extend equals encoding
    the full corpus against the SAME frozen artifacts — i.e. the union
    of (base build, generation slice) is row-identical to a one-shot
    encode, so appending is lossless and order-free. The reference
    encode never retrains either (frozen vmax/centroids/codebooks),
    which is exactly the property under test: extend changes WHAT is
    indexed, never HOW.

    Base and delta each carry one malformed vector (a null element):
    every centroid tier must build without raising, train around it,
    and store it in cell -1 with null codes — at build and at extend
    alike."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        KIND_TABLE,
        KNN_KINDS,
        build_knn_index,
        extend_index,
        load_index,
    )

    emb, base, delta = _split(spark)
    bad = spark.createDataFrame(
        [(61, [0.5, None] + [0.1] * 6), (65, [None] + [-0.2] * 7)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    emb = emb.unionByName(bad)
    base = base.unionByName(bad.where(F.col("vec_id") == 61))
    delta = delta.unionByName(bad.where(F.col("vec_id") == 65))
    for kind in KNN_KINDS:
        d = str(tmp_path / f"idx_{kind}")
        build_knn_index(base, kind, d, **_BUILD_KW)
        gen = extend_index(spark, d, delta)
        assert gen == 1
        idx = load_index(spark, d)
        table = idx.tables[KIND_TABLE[kind]]
        a = idx.artifacts
        if kind == "bq":
            ref = S.bq_build(emb, units=1000, in_dim=8)
        elif kind == "sq":
            ref, _ = S.sq_build(
                emb, units=1000, in_dim=8, vmax=int(a["vmax"])
            )
        elif kind == "ivf":
            ref = S.ivf_encode(emb, a["centroids"], units=1000)
        elif kind == "ivfsq":
            ref = S.ivfsq_encode(
                emb, a["centroids"], int(a["vmax"]), units=1000, in_dim=8
            )
        else:  # ivfpq_res / opq_ivfpq (identical encode in its space)
            src = emb if kind == "ivfpq_res" else S.opq_apply(emb, a["perm"])
            ref = S.ivfpq_encode(
                src, a["centroids"], a["codebooks"], units=1000
            )
        stored = sorted(map(tuple, table.collect()))
        assert stored == sorted(map(tuple, ref.collect())), kind
        assert len(stored) == 62, kind
        if kind in ("bq", "sq"):
            continue
        code = {"ivf": None, "ivfsq": "_sq"}.get(kind, "pq_code")
        bad_rows = table.where(F.col("vec_id").isin(61, 65)).collect()
        assert len(bad_rows) == 2, kind
        for r in bad_rows:
            assert r["cluster"] == -1, (kind, r)
            assert code is None or r[code] is None, (kind, r)


def test_extended_index_serves_mixed_generations(spark, tmp_path):
    """Serving from a base+gen-1 index covers BOTH generations: a query
    whose exact nearest neighbors include new-crawl vectors returns
    them, and serve results are row-equal to searching the one-shot
    frozen encode directly (the rebuilt-encode twin VERDICT r15 asked
    to pin)."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        extend_index,
        load_index,
        serve_knn,
    )

    emb, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivfpq_res", d, **_BUILD_KW)
    extend_index(spark, d, delta)
    idx = load_index(spark, d)
    qids = [0, 7, 30]  # 0 and 30 are delta (new-generation) ids
    served = sorted(
        map(
            tuple,
            serve_knn(emb, idx, qids, k=5, nprobe=2).collect(),
        )
    )
    # rebuilt-encode twin: same artifacts, one-shot encode of ALL rows
    a = idx.artifacts
    codes = S.ivfpq_encode(emb, a["centroids"], a["codebooks"], units=1000)
    twin = sorted(
        map(
            tuple,
            S.ivfpq_topk(
                emb, a["centroids"], codes, a["codebooks"],
                query_ids=qids, k=5, nprobe=2, units=1000,
                embeddings=emb, residual=True,
            ).collect(),
        )
    )
    assert served == twin
    served_ids = {(r[0], r[1]) for r in served}
    assert any(vid % 5 == 0 for _, vid in served_ids)  # new rows served


def test_extend_index_never_runs_a_training_job(spark, tmp_path, monkeypatch):
    """The no-Lloyd census for the extend path: with every trainer in
    the similarity module made unreachable, extending still lands a
    committed generation for every tier — extend is encode-only by
    construction, O(delta) scans against frozen broadcast artifacts."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        KIND_TABLE,
        KNN_KINDS,
        build_knn_index,
        extend_index,
        load_index,
    )

    _, base, delta = _split(spark)
    dirs = {}
    for kind in KNN_KINDS:
        dirs[kind] = str(tmp_path / f"idx_{kind}")
        build_knn_index(base, kind, dirs[kind], **_BUILD_KW)

    def _trap(name):
        def boom(*a, **kw):
            raise AssertionError(f"training job {name} ran during extend")

        return boom

    # bq_build / sq_build are NOT trapped: they are the stateless /
    # frozen-vmax encodes themselves (sq_vmax, the actual calibration
    # scan, IS trapped — a frozen-vmax sq_build never reaches it)
    for trainer in (
        "ivf_build", "pq_build", "ivfpq_build_residual", "ivfsq_build",
        "sq_vmax", "opq_permutation", "_lloyd_units",
    ):
        monkeypatch.setattr(S, trainer, _trap(trainer))

    for kind in KNN_KINDS:
        assert extend_index(spark, dirs[kind], delta) == 1
        idx = load_index(spark, dirs[kind])
        assert idx.tables[KIND_TABLE[kind]].count() == 60, kind


# ------------------------------------------------ append contracts


def test_extend_index_refuses_duplicate_ids(spark, tmp_path):
    """An id that already exists in the stored relation would serve
    duplicate rows forever — the guard semi-join refuses the append
    (and the opt-out is explicit)."""
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        extend_index,
    )

    _, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivfpq_res", d, **_BUILD_KW)
    with pytest.raises(ValueError, match="already"):
        extend_index(spark, d, base.limit(3))
    # disjoint delta is fine afterwards — the refusal left no debris
    assert extend_index(spark, d, delta) == 1


def test_crashed_generation_is_invisible_and_numbered_past(spark, tmp_path):
    """Crash safety: a generation dir without its _META.json commit
    marker (a crashed encode) is never loaded or served, and the next
    extend numbers PAST it so a retry cannot collide with debris."""
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        extend_index,
        load_index,
    )

    _, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivfpq_res", d, **_BUILD_KW)
    gen1 = extend_index(spark, d, delta.where(F.col("vec_id") < 30))
    # simulate a crashed gen-2: parquet landed, marker did not
    os.remove(f"{d}/generations/gen={gen1}/_META.json")
    idx = load_index(spark, d)
    assert [g["generation"] for g in idx.generations] == [0]
    assert idx.tables["codes"].count() == 48  # base only
    # retry lands as gen 2, past the debris
    gen2 = extend_index(spark, d, delta.where(F.col("vec_id") >= 30))
    assert gen2 == gen1 + 1
    idx2 = load_index(spark, d)
    assert [g["generation"] for g in idx2.generations] == [0, gen2]
    assert idx2.tables["codes"].count() == 48 + 6  # base + the retry slice


def test_extend_index_schema_and_kind_guards(spark, tmp_path):
    """A delta with the wrong columns refuses before writing; a
    generation slice whose recorded kind disagrees with the manifest
    refuses at load (a slice copied between index dirs)."""
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        extend_index,
        load_index,
    )

    _, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivf", d, **_BUILD_KW)
    with pytest.raises(ValueError, match="schema"):
        extend_index(spark, d, delta.withColumnRenamed("vec_id", "id"))
    gen = extend_index(spark, d, delta)
    meta_path = f"{d}/generations/gen={gen}/_META.json"
    meta = json.load(open(meta_path))
    json.dump(dict(meta, kind="ivfpq_res"), open(meta_path, "w"))
    with pytest.raises(ValueError, match="kind"):
        load_index(spark, d)


# ------------------------------------------------ recall-drift telemetry


def test_recall_drift_reports_per_generation_and_trigger(spark, tmp_path):
    """The telemetry that decides when frozen-artifact appends need a
    true retrain: per-generation recall@k vs the exact integer-L2
    truth, plus the documented trigger. On the benign synthetic corpus
    (delta drawn from the SAME distribution the codebooks were trained
    on) no generation may trip the retrain flag at a generous budget;
    with an impossible floor the flag MUST trip — both sides of the
    policy are exercised."""
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        extend_index,
        load_index,
        recall_drift,
    )

    emb, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivfpq_res", d, **_BUILD_KW)
    extend_index(spark, d, delta)
    idx = load_index(spark, d)
    rep = recall_drift(
        emb, idx, k=5, candidates=40, nprobe=4,
        drift_budget=0.5, recall_floor=0.05,
    )
    assert set(rep["by_generation"]) == {0, 1}
    # nprobe=4 probes every coarse cell and candidates=40 of 59 rows
    # survive the ADC cut into the exact re-rank — recall must be high,
    # not merely in-bounds (a vacuous telemetry check measures nothing)
    assert rep["overall"] >= 0.8
    for r in rep["by_generation"].values():
        assert 0.0 <= r <= 1.0
    assert rep["n_queries"] == 60  # both slices fully sampled at mod 1
    assert rep["retrain_due"] is False
    strict = recall_drift(
        emb, idx, k=5, candidates=40, nprobe=4, recall_floor=1.01
    )
    assert strict["retrain_due"] is True


# ------------------------------------------------ serving pointer (flip)


def test_current_pointer_flip_and_resolution(spark, tmp_path):
    """The atomic serving flip the versioned-artifact story ends with:
    a root's CURRENT.json names the active version, resolve accepts
    either a concrete index dir or a root, flips refuse non-indexes,
    and a pointer to a deleted version fails loudly at resolve time."""
    import shutil

    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        load_index,
        resolve_index_dir,
        set_current_index,
    )

    _, base, delta = _split(spark)
    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    root = str(tmp_path / "serving")
    build_knn_index(base, "ivfpq_res", v1, **_BUILD_KW)
    with pytest.raises(FileNotFoundError, match="manifest"):
        set_current_index(root, v2)  # not built yet — refuse the flip
    set_current_index(root, v1)
    assert resolve_index_dir(root) == os.path.abspath(v1)
    assert resolve_index_dir(v1) == v1  # concrete dir resolves to itself
    assert load_index(spark, resolve_index_dir(root)).kind == "ivfpq_res"
    # retrain lands in v2, one flip moves serving
    build_knn_index(base.unionByName(delta), "ivfpq_res", v2, **_BUILD_KW)
    set_current_index(root, v2)
    assert resolve_index_dir(root) == os.path.abspath(v2)
    # a pointer to a deleted version fails at resolve, not as a read error
    shutil.rmtree(v2)
    with pytest.raises(FileNotFoundError, match="gone"):
        resolve_index_dir(root)
    with pytest.raises(FileNotFoundError, match="neither"):
        resolve_index_dir(str(tmp_path / "nothing"))


def test_opq_bulk_serve_from_store(spark, tmp_path):
    """serve_knn_bulk over a stored opq_ivfpq index: the whole-corpus
    kNN graph at a pinned budget covers every vector as a query, and
    (probing every cell with a corpus-wide candidate cut) the exact
    re-rank reproduces the brute-force integer-L2 ranking — the
    permutation changes the codes, never the served distances."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        load_index,
        serve_knn_bulk,
    )

    emb, _, _ = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(emb, "opq_ivfpq", d, **_BUILD_KW)
    got = serve_knn_bulk(
        emb, load_index(spark, d), k=3, candidates=60, nprobe=4
    )
    rows = got.collect()
    assert {r["query_id"] for r in rows} == set(range(60))
    assert all(r["query_id"] != r["vec_id"] for r in rows)
    truth = sorted(
        (r["query_id"], r["vec_id"], r["rn"])
        for r in S.int_l2_topk(emb, emb, k=3, units=1000).collect()
    )
    assert sorted((r["query_id"], r["vec_id"], r["rn"]) for r in rows) == truth


def test_compact_index_folds_generations_losslessly(spark, tmp_path, monkeypatch):
    """Generation compaction (the stored-index ledger-compact): after
    two extends, compacting writes a fresh single-base version whose
    artifacts are byte-identical, whose relation is the full union, and
    which serves ROW-EQUAL to the multi-generation index — with every
    trainer unreachable during the fold (a compact is a rewrite, never
    a retrain)."""
    import json as _json

    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        compact_index,
        extend_index,
        load_index,
        serve_knn,
    )

    emb, base, delta = _split(spark)
    d = str(tmp_path / "idx")
    build_knn_index(base, "ivfpq_res", d, **_BUILD_KW)
    extend_index(spark, d, delta.where(F.col("vec_id") < 30))
    extend_index(spark, d, delta.where(F.col("vec_id") >= 30))
    before = load_index(spark, d)
    assert [g["generation"] for g in before.generations] == [0, 1, 2]

    def _trap(name):
        def boom(*a, **kw):
            raise AssertionError(f"training job {name} ran during compact")

        return boom

    for trainer in (
        "ivf_build", "pq_build", "ivfpq_build_residual", "ivfsq_build",
        "bq_build", "sq_build", "sq_vmax", "opq_permutation",
        "_lloyd_units",
    ):
        monkeypatch.setattr(S, trainer, _trap(trainer))

    out = str(tmp_path / "compacted")
    compact_index(spark, d, out)
    after = load_index(spark, out)
    assert [g["generation"] for g in after.generations] == [0]
    assert after.artifacts == before.artifacts
    assert sorted(map(tuple, after.tables["codes"].collect())) == sorted(
        map(tuple, before.tables["codes"].collect())
    )
    qids = [0, 7, 30]
    assert sorted(
        map(tuple, serve_knn(emb, after, qids, k=5, nprobe=2).collect())
    ) == sorted(
        map(tuple, serve_knn(emb, before, qids, k=5, nprobe=2).collect())
    )
    # the compacted dir is a full versioned index: overwrite refuses
    with pytest.raises(FileExistsError):
        compact_index(spark, d, out)
    # manifest schema pairing preserved
    m_old = _json.load(open(f"{d}/manifest.json"))
    m_new = _json.load(open(f"{out}/manifest.json"))
    assert m_new["tables"] == m_old["tables"]


def test_extend_after_compact_continues_the_lifecycle(spark, tmp_path):
    """The full crawl lifecycle composes: build → extend → compact →
    extend again. A compacted version is a first-class index, so the
    next crawl appends to it as generation 1 of the NEW dir, the
    duplicate-id guard still sees the folded rows, and drift telemetry
    reports the fresh generation split."""
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        compact_index,
        extend_index,
        load_index,
        recall_drift,
    )

    emb = _emb(spark, n=75)
    gen_a = emb.where(F.col("vec_id") < 48)
    gen_b = emb.where((F.col("vec_id") >= 48) & (F.col("vec_id") < 60))
    gen_c = emb.where(F.col("vec_id") >= 60)
    d1, d2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    build_knn_index(gen_a, "ivfpq_res", d1, **_BUILD_KW)
    extend_index(spark, d1, gen_b)
    compact_index(spark, d1, d2)
    # the folded rows guard the next append
    with pytest.raises(ValueError, match="already"):
        extend_index(spark, d2, gen_b.limit(2))
    assert extend_index(spark, d2, gen_c) == 1
    idx = load_index(spark, d2)
    assert [g["generation"] for g in idx.generations] == [0, 1]
    assert idx.tables["codes"].count() == 75
    rep = recall_drift(
        emb, idx, k=5, candidates=60, nprobe=4,
        drift_budget=0.5, recall_floor=0.05,
    )
    assert set(rep["by_generation"]) == {0, 1}
    assert rep["retrain_due"] is False
