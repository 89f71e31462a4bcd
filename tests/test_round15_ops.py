"""Round-15 pins: ledger read/guard hardening (local-path assertion,
race-free generation snapshots) and ivfpq_topk query-source
exclusivity (the Bloom tests live in tests/test_bloom.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ------------------------------------------------ ledger local-path guard


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k STRING, n BIGINT")


def test_ledger_verbs_refuse_remote_uris(spark, tmp_path):
    """The replay-vs-compaction guards probe the LOCAL filesystem; on an
    hdfs://, s3a://, or even file:// sink they would silently never fire
    — a replayed batch could overwrite a compacted base. Every verb that
    relies on those probes must fail loudly at entry instead."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
        read_ledger,
    )

    for uri in ("hdfs://nn/ledger", "s3a://bucket/ledger", "file:///x/y"):
        with pytest.raises(ValueError, match="scheme"):
            ledger_upsert(uri)
        with pytest.raises(ValueError, match="scheme"):
            read_ledger(spark, uri)
        with pytest.raises(ValueError, match="scheme"):
            compact_ledger(spark, uri, ["k"], through=0)
    # plain local paths are untouched
    sink = str(tmp_path / "ledger")
    ledger_upsert(sink)(_mk(spark, [("a", 1)]), 0)
    assert read_ledger(spark, sink).count() == 1


def test_read_ledger_snapshot_is_race_stable(spark, tmp_path, monkeypatch):
    """The TOCTOU fix: a compaction's first trash-rename landing between
    the partial-swap assertion and the generation glob must not let a
    reader silently reconstruct partial state. The snapshot re-globs
    after listing and retries on churn — and gives up LOUDLY (never
    silently partial) if the set never settles."""
    from hadoop_tfidf_spark.streaming import ledger as L

    sink = str(tmp_path / "ledger")
    up = L.ledger_upsert(sink)
    for b in range(3):
        up(_mk(spark, [("a", b)]), b)

    # stable directory: snapshot returns the true list first try
    assert L._stable_generations(sink) == [0, 1, 2]

    # churning directory: every listing differs from the last → the
    # reader must raise rather than return a maybe-partial list
    calls = {"n": 0}
    real = L.ledger_generations

    def churning(s):
        calls["n"] += 1
        return real(s)[: 1 + calls["n"] % 2]

    monkeypatch.setattr(L, "ledger_generations", churning)
    with pytest.raises(RuntimeError, match="changing"):
        L._stable_generations(sink)


def test_read_ledger_still_blocks_mid_swap(spark, tmp_path):
    """The genuinely partial window (tmp + trash coexisting) still fails
    loudly through the new snapshot path."""
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert, read_ledger

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    for b in range(2):
        up(_mk(spark, [("a", b)]), b)
    (tmp_path / "ledger" / "_compact_tmp_through=1").mkdir()
    (tmp_path / "ledger" / "_trash_batch_id=0").mkdir()
    with pytest.raises(RuntimeError, match="mid-compaction"):
        read_ledger(spark, sink)


# ------------------------------------------------ registry contract pin


def test_registry_order_and_oracle_sql_are_pinned():
    """The driver's gate window is the FIRST 50 queries() entries and
    its hash compare runs the oracle SQL verbatim — so registry ORDER
    and oracle TEXT are contract, not style. This pin (snapshotted
    before the round-15 extensions.py split) fails on any accidental
    reorder, key loss, or oracle-SQL drift; a deliberate rotation
    regenerates the fixture in the same commit."""
    import hashlib
    import json
    import os

    import __spark_entry__ as e

    fix = json.load(
        open(os.path.join(os.path.dirname(__file__), "fixtures_registry_pin.json"))
    )
    qs = list(e.queries())
    assert qs == fix["key_order"]
    assert qs[:50] == fix["window"]
    osql = e.oracle_sql()
    got = {
        k: hashlib.sha256(v.encode()).hexdigest() for k, v in osql.items()
    }
    assert got == fix["oracle_sha256"]


# ------------------------------------------------ trained-index persistence


def _emb(spark, n=60, dim=8):
    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


_BUILD_KW = dict(units=1000, coarse_k=4, m=2, pq_k=4, pq_iters=1)


def _in_session_twin(spark, emb, kind, qids, k, candidates, nprobe):
    """The same search run against an index built IN this session —
    what serve-from-disk must hash-equal."""
    from hadoop_tfidf_spark.operators import similarity as S

    queries = emb.where(F.col("vec_id").isin(qids))
    if kind == "ivf":
        assigned, cents = S.ivf_build(emb, k=4, iters=2, units=1000)
        return S.ivf_topk(
            assigned, cents, qids, k=k, nprobe=nprobe, units=1000
        )
    if kind == "bq":
        return S.bq_topk(
            emb, queries, k=k, candidates=candidates, units=1000, in_dim=8
        )
    if kind == "sq":
        return S.sq_topk(
            emb, queries, k=k, candidates=candidates, units=1000, in_dim=8
        )
    if kind == "ivfsq":
        return S.ivfsq_topk(
            emb, qids, k=k, candidates=candidates, nprobe=nprobe,
            coarse_k=4, units=1000, in_dim=8,
        )
    if kind == "opq_ivfpq":
        # round 16: the OPQ tier joined the store — permute with the
        # same deterministic allocation, then the ivfpq_res twin
        perm = S.opq_permutation(emb, m=2, in_dim=8, units=1000)
        emb = S.opq_apply(emb, perm)
    assigned, cents, codes, codebooks = S.ivfpq_build_residual(
        emb, coarse_k=4, m=2, k=4, iters=1, units=1000, pack=True
    )
    return S.ivfpq_topk(
        assigned, cents, codes, codebooks, query_ids=qids, k=k,
        nprobe=nprobe, units=1000, residual=True,
    )


def test_saved_index_serves_identically_to_in_session_build(spark, tmp_path):
    """The build-once/serve-many contract: for every cli-knn tier, a
    query answered from a LOADED index equals the same query against an
    in-session build, row for row — every artifact is integer-exact and
    round-trips the JSON manifest losslessly."""
    from hadoop_tfidf_spark.operators.index_store import (
        KNN_KINDS,
        build_knn_index,
        load_index,
        serve_knn,
    )

    emb = _emb(spark)
    qids = [0, 7]
    for kind in KNN_KINDS:
        d = str(tmp_path / f"idx_{kind}")
        build_knn_index(emb, kind, d, **_BUILD_KW)
        served = sorted(
            map(
                tuple,
                serve_knn(
                    emb, load_index(spark, d), qids,
                    k=5, candidates=30, nprobe=2,
                ).collect(),
            )
        )
        twin = sorted(
            map(
                tuple,
                _in_session_twin(spark, emb, kind, qids, 5, 30, 2).collect(),
            )
        )
        assert served == twin, kind
        assert len(served) == len(qids) * 5, kind


def test_serve_knn_never_reruns_a_training_job(spark, tmp_path, monkeypatch):
    """The census VERDICT asked for: with every trainer in the
    similarity module made unreachable, serving from a stored index
    still answers — proof the serve path reads artifacts instead of
    re-running Lloyd / calibration / encoding."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        KNN_KINDS,
        build_knn_index,
        load_index,
        serve_knn,
    )

    emb = _emb(spark)
    dirs = {}
    for kind in KNN_KINDS:
        dirs[kind] = str(tmp_path / f"idx_{kind}")
        build_knn_index(emb, kind, dirs[kind], **_BUILD_KW)

    def _trap(name):
        def boom(*a, **kw):
            raise AssertionError(f"training job {name} ran during serve")

        return boom

    for trainer in (
        "ivf_build", "pq_build", "ivfpq_build_residual", "ivfsq_build",
        "bq_build", "sq_build", "sq_vmax", "opq_permutation",
        "_lloyd_units",
    ):
        monkeypatch.setattr(S, trainer, _trap(trainer))

    for kind in KNN_KINDS:
        out = serve_knn(
            emb, load_index(spark, dirs[kind]), [0, 7],
            k=5, candidates=30, nprobe=2,
        ).collect()
        assert len(out) == 10, kind


def test_index_manifest_contracts(spark, tmp_path):
    """The manifest is the versioned pairing between artifacts and
    stored tables: saves refuse overwrites, loads refuse missing or
    wrong-version manifests and out-of-sync table schemas, and
    non-integer artifacts (which would not round-trip exactly) refuse
    to persist at all."""
    import json
    import os

    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        load_index,
        save_index,
    )

    emb = _emb(spark)
    d = str(tmp_path / "idx")
    build_knn_index(emb, "ivfsq", d, **_BUILD_KW)

    with pytest.raises(FileExistsError, match="immutable"):
        build_knn_index(emb, "ivfsq", d, **_BUILD_KW)
    with pytest.raises(FileNotFoundError, match="manifest"):
        load_index(spark, str(tmp_path / "nowhere"))
    with pytest.raises(TypeError, match="exact-integer"):
        save_index(str(tmp_path / "f"), "sq", {}, {"vmax": 1.5}, {})

    mpath = f"{d}/manifest.json"
    m = json.load(open(mpath))

    m2 = dict(m, format_version=999)
    json.dump(m2, open(mpath, "w"))
    with pytest.raises(ValueError, match="format_version"):
        load_index(spark, d)

    m3 = dict(m)
    m3["tables"] = {"index": {"schema": "struct<wrong:int>"}}
    json.dump(m3, open(mpath, "w"))
    with pytest.raises(ValueError, match="out of sync"):
        load_index(spark, d)

    json.dump(m, open(mpath, "w"))  # restore — loads again
    assert load_index(spark, d).kind == "ivfsq"
    os.remove(mpath)
    with pytest.raises(FileNotFoundError):
        load_index(spark, d)


# ------------------------------------------------ stored-codes scan census


def test_sq_serve_scans_stored_codes_not_reencoded(spark, tmp_path, monkeypatch):
    """SQ's point is that searches read 1-byte codes instead of full
    vectors — so the serve plan must SCAN the persisted code table, not
    re-encode the corpus: the served plan's input files include the
    stored index parquet, serving works with sq_build/sq_vmax
    unreachable, and a prebuilt index without its vmax calibration
    refuses (codes are meaningless off their scale)."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        load_index,
        serve_knn,
    )

    emb_path = str(tmp_path / "emb.parquet")
    _emb(spark).write.parquet(emb_path)
    emb = spark.read.parquet(emb_path)
    d = str(tmp_path / "idx_sq")
    build_knn_index(emb, "sq", d, units=1000)
    idx = load_index(spark, d)
    assert "index" in idx.tables  # the codes now persist

    monkeypatch.setattr(
        S, "sq_build",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("re-encoded")),
    )
    monkeypatch.setattr(
        S, "sq_vmax",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("re-calibrated")),
    )
    out = serve_knn(emb, idx, [0, 7], k=5, candidates=30)
    files = set(out.inputFiles())
    assert any("idx_sq/tables/index" in f for f in files)
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == 10

    monkeypatch.undo()
    queries = emb.where(F.col("vec_id").isin([0, 7]))
    twin = sorted(
        map(
            tuple,
            S.sq_topk(
                emb, queries, k=5, candidates=30, units=1000, in_dim=8
            ).collect(),
        )
    )
    assert rows == twin

    with pytest.raises(ValueError, match="vmax"):
        S.sq_topk(
            emb, queries, k=5, units=1000, in_dim=8,
            index=idx.tables["index"],
        )


# ------------------------------------------------ bulk serve from stored index


def test_serve_knn_bulk_from_stored_index(spark, tmp_path, monkeypatch):
    """The whole-corpus kNN graph from a LOADED ivfpq index: pinned
    budget equals the in-session build+bulk twin row for row; the
    auto-sized path sizes and answers with every trainer unreachable
    (sizing measures, it never retrains); wrong-kind and ambiguous
    budgets refuse."""
    from hadoop_tfidf_spark.operators import similarity as S
    from hadoop_tfidf_spark.operators.index_store import (
        build_knn_index,
        load_index,
        serve_knn_bulk,
    )

    emb = _emb(spark)
    d = str(tmp_path / "idx")
    build_knn_index(emb, "ivfpq_res", d, **_BUILD_KW)
    idx = load_index(spark, d)

    a, c, co, cb = S.ivfpq_build_residual(
        emb, coarse_k=4, m=2, k=4, iters=1, units=1000, pack=True
    )
    twin = sorted(
        map(
            tuple,
            S.ivfpq_bulk_topk(
                a, c, co, cb, emb, k=5, candidates=30, nprobe=4, units=1000
            ).collect(),
        )
    )
    served = sorted(
        map(
            tuple,
            serve_knn_bulk(emb, idx, k=5, candidates=30, nprobe=4).collect(),
        )
    )
    assert served == twin and served

    # auto-size path: no trainer may run (sizing only measures)
    for trainer in (
        "ivf_build", "pq_build", "ivfpq_build_residual", "ivfsq_build",
        "bq_build", "sq_build", "sq_vmax", "_lloyd_units",
    ):
        monkeypatch.setattr(
            S, trainer,
            lambda *a, **kw: (_ for _ in ()).throw(
                AssertionError("trainer ran during bulk serve")
            ),
        )
    sized = serve_knn_bulk(emb, idx, k=5, target_recall=0.3).collect()
    assert sized

    # refusals: wrong index kind, ambiguous budget, missing budget
    d2 = str(tmp_path / "idx_bq")
    monkeypatch.undo()
    build_knn_index(emb, "bq", d2, units=1000)
    with pytest.raises(ValueError, match="ivfpq_res"):
        serve_knn_bulk(emb, load_index(spark, d2), k=5, nprobe=1, candidates=10)
    with pytest.raises(ValueError, match="not.*both|not both"):
        serve_knn_bulk(emb, idx, k=5, target_recall=0.5, nprobe=1, candidates=10)
    with pytest.raises(ValueError, match="target_recall"):
        serve_knn_bulk(emb, idx, k=5)


# ------------------------------------------------ serve-plan censuses


def test_serve_plans_have_no_cartesian_products(spark, tmp_path):
    """Scale-shape pin for every serve path: the post-AQE physical plan
    of each tier's serve (and the bulk graph) contains ZERO cartesian
    products — candidate generation stays an equi-join / broadcast
    probe at every tier, loaded-from-disk exactly as built-in-session."""
    from hadoop_tfidf_spark.operators.index_store import (
        KNN_KINDS,
        build_knn_index,
        load_index,
        serve_knn,
        serve_knn_bulk,
    )
    from hadoop_tfidf_spark.plans import plan_stats

    emb = _emb(spark)
    for kind in KNN_KINDS:
        d = str(tmp_path / f"idx_{kind}")
        build_knn_index(emb, kind, d, **_BUILD_KW)
        idx = load_index(spark, d)
        stats = plan_stats(
            serve_knn(emb, idx, [0, 7], k=5, candidates=30, nprobe=2)
        )
        assert stats.cartesian_products == 0, (kind, stats)
    bulk = serve_knn_bulk(
        emb, load_index(spark, str(tmp_path / "idx_ivfpq_res")),
        k=5, candidates=30, nprobe=2,
    )
    stats = plan_stats(bulk)
    assert stats.cartesian_products == 0, stats


# ------------------------------------------------ auto-sized kNN budget


def test_bulk_recall_floor_at_auto_sized_budget(spark):
    """The tuning dial, automated: size_knn_budget walks the recall
    curve on a deterministic query sample and returns the cheapest
    (nprobe, candidates) clearing the target — and the FULL-corpus bulk
    job at that budget then clears the same floor (everything is
    integer-exact, so the numbers are pinnable). Floor raised from the
    manual 0.5 to an auto-sized 0.8."""
    from hadoop_tfidf_spark.operators import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where(F.col("vec_id") < 200)
    a, c, co, cb = S.ivfpq_build_residual(
        emb, coarse_k=8, coarse_iters=1, m=4, k=8, iters=1,
        units=1_000_000, pack=True,
    )
    nprobe, cand, curve = S.size_knn_budget(
        a, c, co, cb, emb, target_recall=0.8, k=5, sample_mod=5,
        candidate_ladder=[10, 20, 40, 80, 120],
    )
    # integer-exact end to end → the sized budget is deterministic
    assert (nprobe, cand) == (8, 80)
    assert curve[-1]["nprobe"] == nprobe
    assert curve[-1]["candidates"] == cand
    assert curve[-1]["recall"] >= 0.8
    # at fixed nprobe, recall is weakly increasing in candidates (a
    # bigger ADC cut can only add true neighbors to the exact re-rank)
    by_np: dict[int, list[float]] = {}
    for row in curve:
        by_np.setdefault(row["nprobe"], []).append(row["recall"])
    for recalls in by_np.values():
        assert recalls == sorted(recalls)

    # the floor test proper: the FULL-corpus bulk kNN graph at the
    # auto-sized budget clears the target
    approx = S.ivfpq_bulk_topk(
        a, c, co, cb, emb, k=5, candidates=cand, nprobe=nprobe,
        units=1_000_000,
    ).select("query_id", "vec_id")
    exact = S.int_l2_topk(emb, emb, k=5, units=1_000_000).select(
        F.col("query_id"), F.col("vec_id").alias("true_id")
    )
    hits = approx.join(
        exact,
        (approx.query_id == exact.query_id)
        & (approx.vec_id == exact.true_id),
    ).count()
    assert hits / (200 * 5) >= 0.8

    # an unreachable target fails loudly WITH the measured curve, never
    # silently returns an under-budgeted point
    with pytest.raises(ValueError, match="unreachable"):
        S.size_knn_budget(
            a, c, co, cb, emb, target_recall=0.99, k=5, sample_mod=5,
            nprobes=[1], candidate_ladder=[10],
        )


# ------------------------------------------------ ivfpq query-source guard


def test_ivfpq_topk_rejects_both_query_sources(spark):
    """query_ids= and queries= are alternative query sets; passing both
    used to silently drop query_ids (the relation path won), which can
    mask a call-site bug — it must raise, mirroring the neither-given
    check."""
    from hadoop_tfidf_spark.operators.similarity import (
        ivf_build,
        ivfpq_topk,
        pq_build,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3), float(i % 2)])
         for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    assigned, centroids = ivf_build(emb, k=2, iters=1)
    codes, codebooks = pq_build(emb, m=2, k=4, iters=1)
    with pytest.raises(ValueError, match="not both"):
        ivfpq_topk(
            assigned, centroids, codes, codebooks,
            query_ids=[0, 1], queries=emb.limit(2), nprobe=1, k=3,
        )
