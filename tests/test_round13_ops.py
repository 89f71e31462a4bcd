"""Round-13 pins: the nearest-centroid probe expression, the adaptive
quality cut, ledger compaction and delta signatures. The
driver-vs-executor probe tests live in tests/test_ivf.py, the Bloom
decontamination tests in tests/test_bloom.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators import similarity as S
from tests.conftest import SF_DIR_SMOKE

IVF_UNITS = 1_000_000


@pytest.fixture(scope="module")
def ivf_index(spark):
    emb = spark.read.parquet(f"{SF_DIR_SMOKE}/embeddings.parquet")
    assigned, cents = S.ivf_build(emb, k=16, iters=1, units=IVF_UNITS)
    return emb, assigned, cents


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_nearest_centroid_ids_first_element_is_assign_argmin(spark, ivf_index):
    """nprobe=1 of the probe expression is the same argmin ivf_build's
    assign computes — the two expressions can never disagree on a
    vector's home cell."""
    emb, assigned, cents = ivf_index
    got = (
        emb.select(
            "vec_id",
            F.element_at(
                S.nearest_centroid_ids(F.col("embedding"), cents, 1, IVF_UNITS), 1
            ).alias("cell"),
        )
        .join(assigned.select("vec_id", "cluster"), "vec_id")
        .where(F.col("cell") != F.col("cluster"))
        .count()
    )
    assert got == 0


# ------------------------------------------------ adaptive quality cut


@pytest.fixture(scope="module")
def adaptive_rows(spark):
    from hadoop_tfidf_spark.extensions import (
        q_text_quality_adaptive,
        q_text_quality_adaptive_approx,
    )

    approx = {
        r["source"]: r
        for r in q_text_quality_adaptive_approx(spark, SF_DIR_SMOKE).collect()
    }
    exact_kept = (
        q_text_quality_adaptive(spark, SF_DIR_SMOKE)
        .groupBy("source")
        .count()
        .collect()
    )
    return approx, {r["source"]: r["count"] for r in exact_kept}


def test_adaptive_approx_delta_bounded(adaptive_rows):
    """The production threshold cut keeps floor(q·n) on distinct values
    vs the exact rank cut's ceil(q·n) — |delta| <= 1 absent quality
    ties, and the accounting columns agree with the exact twin."""
    approx, exact = adaptive_rows
    assert set(approx) == set(exact)
    for src, row in approx.items():
        assert row["n_kept_exact"] == exact[src]
        assert row["kept_delta"] == row["n_kept"] - row["n_kept_exact"]
        assert abs(row["kept_delta"]) <= 1


def test_adaptive_approx_plan_has_no_window_or_sort(spark):
    """The production form's whole point: the corpus is never
    sort-shuffled — no Window in the plan (the exact twin has one), the
    cutoff relation joins back as a broadcast."""
    from hadoop_tfidf_spark.extensions import (
        q_text_quality_adaptive,
        q_text_quality_adaptive_approx,
    )

    plan = (
        q_text_quality_adaptive_approx(spark, SF_DIR_SMOKE)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan and "Sort" not in plan
    exact_plan = (
        q_text_quality_adaptive(spark, SF_DIR_SMOKE)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" in exact_plan


# ------------------------------------------------ update-ledger semantics


@pytest.fixture()
def ledger_sink(spark, tmp_path):
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    mk = lambda rows: spark.createDataFrame(rows, "k STRING, n BIGINT")
    up(mk([("a", 1), ("b", 1)]), 0)
    up(mk([("a", 2), ("c", 1)]), 1)
    up(mk([("b", 5)]), 2)
    up(mk([("c", 7), ("d", 1)]), 3)
    return sink, up, mk


def _state(spark, sink):
    from hadoop_tfidf_spark.streaming.ledger import (
        read_ledger,
        reconstruct_latest,
    )

    return sorted(
        map(tuple, reconstruct_latest(read_ledger(spark, sink), ["k"]).collect())
    )


def test_ledger_replay_is_idempotent(spark, ledger_sink):
    """foreachBatch is at-least-once: a re-delivered batch_id must leave
    reconstruction AND the generation layout unchanged (the overwrite
    rewrites its own dir; the old append scheme duplicated rows)."""
    from hadoop_tfidf_spark.streaming.ledger import ledger_generations

    sink, up, mk = ledger_sink
    before = _state(spark, sink)
    assert before == [("a", 2), ("b", 5), ("c", 7), ("d", 1)]
    up(mk([("b", 5)]), 2)  # replayed micro-batch, same content
    assert _state(spark, sink) == before
    assert ledger_generations(sink) == [0, 1, 2, 3]


def test_compact_is_reconstruction_invariant(spark, ledger_sink):
    """Folding generations 0..2 into one base changes the layout, never
    the state; newer generations still shadow the base."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_generations,
    )

    sink, up, mk = ledger_sink
    before = _state(spark, sink)
    folded = compact_ledger(spark, sink, ["k"], through=2)
    assert folded == 3
    assert ledger_generations(sink) == [2, 3]
    assert _state(spark, sink) == before
    # a later delta on top of the compacted base still wins
    up(mk([("a", 9)]), 4)
    assert _state(spark, sink) == [("a", 9), ("b", 5), ("c", 7), ("d", 1)]


def test_compact_single_generation_is_noop(spark, ledger_sink):
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_generations,
    )

    sink, up, mk = ledger_sink
    assert compact_ledger(spark, sink, ["k"], through=0) == 1
    assert ledger_generations(sink) == [0, 1, 2, 3]


# ------------------------------------ incremental signature maintenance


def _new_gen(docs):
    return docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def test_delta_signatures_equal_full_recompute(spark):
    """The headline contract: carried + fresh == signing the new
    generation from scratch, row for row, all 12 hash columns."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = _new_gen(docs)
    old_sigs = D.minhash_signatures(D.shingles(old))
    delta = D.delta_signatures(old_sigs, D.corpus_diff(old, new), new)
    full = D.minhash_signatures(D.shingles(new))
    assert _rows(delta) == _rows(full)


def test_delta_signatures_carry_stored_rows_not_recompute(spark):
    """Tamper an UNCHANGED doc's stored signature: the tampered value
    must flow through (proof the unchanged path is a semi-join carry,
    not a silent recompute), while added/changed docs come out fresh."""
    from hadoop_tfidf_spark.operators import dedup as D

    old = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h revised"), (3, "i j k l")],
        "doc_id long, text string",
    )
    mh_cols = [f"mh_{h}" for h in range(12)]
    tampered = D.minhash_signatures(D.shingles(old)).select(
        "doc_id",
        *[
            F.when(F.col("doc_id") == 1, F.lit(-999))
            .otherwise(F.col(c))
            .cast("long")
            .alias(c)
            for c in mh_cols
        ],
    )
    out = {
        r["doc_id"]: tuple(r[c] for c in mh_cols)
        for r in D.delta_signatures(
            tampered, D.corpus_diff(old, new), new
        ).collect()
    }
    fresh = {
        r["doc_id"]: tuple(r[c] for c in mh_cols)
        for r in D.minhash_signatures(D.shingles(new)).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1] == tuple([-999] * 12)  # carried verbatim from the store
    assert out[2] == fresh[2] and out[3] == fresh[3]  # re-signed


def test_delta_changed_doc_below_k_words_loses_its_row(spark):
    """A revision that shrinks a doc below k words removes its signature
    row — exactly what a from-scratch signing produces."""
    from hadoop_tfidf_spark.operators import dedup as D

    old = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out = D.delta_signatures(
        D.minhash_signatures(D.shingles(old)), D.corpus_diff(old, new), new
    )
    assert out.count() == 0


# --------------------------------- compaction crash-safety (round 13b)


def test_compact_crash_before_swap_rolls_back(spark, ledger_sink):
    """A tmp dir with NO trashed generations = a compaction that died
    before touching any original dir (or one still writing its base):
    every original generation is intact, so concurrent serving reads
    WORK through the whole build phase — only the swap window itself
    blocks — and re-running compact_ledger rolls the tmp back and
    completes fresh, state unchanged."""
    import os

    from hadoop_tfidf_spark.streaming.ledger import compact_ledger

    sink, up, mk = ledger_sink
    want = _state(spark, sink)
    os.makedirs(f"{sink}/_compact_tmp_through=2")
    assert _state(spark, sink) == want  # no raise: originals all present
    assert compact_ledger(spark, sink, ["k"], through=2) == 3
    assert _state(spark, sink) == want


def test_compact_crash_mid_swap_resumes(spark, ledger_sink):
    """Crash AFTER the folded dirs were trashed but BEFORE the tmp
    renamed into place: the tmp holds the only complete copy — reads
    refuse, and re-running compact_ledger finishes the rename; nothing
    is lost."""
    import glob
    import os

    from hadoop_tfidf_spark.streaming.ledger import compact_ledger

    sink, up, mk = ledger_sink
    want = _state(spark, sink)
    # run a real compaction, then reconstruct its mid-swap crash state:
    # base dir back to tmp, a trash marker present
    assert compact_ledger(spark, sink, ["k"], through=2) == 3
    os.rename(f"{sink}/batch_id=2", f"{sink}/_compact_tmp_through=2")
    os.makedirs(f"{sink}/_trash_batch_id=0")
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        _state(spark, sink)
    compact_ledger(spark, sink, ["k"], through=2)
    assert _state(spark, sink) == want
    assert not glob.glob(f"{sink}/_trash_batch_id=*")
    assert not glob.glob(f"{sink}/_compact_tmp_through=*")


def test_compact_crash_after_swap_leaves_readable_state(spark, ledger_sink):
    """Crash after the final rename, before trash cleanup: the ledger is
    complete — reads WORK (trash is ignorable garbage) and the next
    compact_ledger clears it."""
    import glob
    import os

    from hadoop_tfidf_spark.streaming.ledger import compact_ledger

    sink, up, mk = ledger_sink
    want = _state(spark, sink)
    os.makedirs(f"{sink}/_trash_batch_id=99")
    assert _state(spark, sink) == want  # no raise: state is complete
    compact_ledger(spark, sink, ["k"], through=2)
    assert _state(spark, sink) == want
    assert not glob.glob(f"{sink}/_trash_batch_id=*")


def test_compact_crash_mid_trash_loop_recovers(spark, ledger_sink):
    """Crash INSIDE the trash-rename loop: some batch_id<=through dirs
    (including batch_id=through itself) are still in place alongside the
    tmp — recovery must finish trashing them before the rename instead
    of wedging on ENOTEMPTY."""
    import glob
    import os
    import shutil

    from hadoop_tfidf_spark.streaming.ledger import compact_ledger

    sink, up, mk = ledger_sink
    want = _state(spark, sink)
    # reconstruct the mid-loop crash: tmp present, batch_id=0 trashed,
    # batch_id=1 and batch_id=2 (the through target) still in place
    assert compact_ledger(spark, sink, ["k"], through=2) == 3
    # state now: batch_id=2 (base), batch_id=3. Rebuild the crash layout:
    shutil.copytree(f"{sink}/batch_id=2", f"{sink}/_compact_tmp_through=2")
    os.makedirs(f"{sink}/_trash_batch_id=0")
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        _state(spark, sink)
    compact_ledger(spark, sink, ["k"], through=2)  # must not raise
    assert _state(spark, sink) == want
    assert not glob.glob(f"{sink}/_compact_tmp_through=*")
    assert not glob.glob(f"{sink}/_trash_batch_id=*")


def test_read_ledger_empty_sink_raises_clearly(spark, tmp_path):
    """Zero generations (nothing committed / mistyped path) raises a
    clear FileNotFoundError, not Spark's UNABLE_TO_INFER_SCHEMA."""
    from hadoop_tfidf_spark.streaming.ledger import read_ledger

    with pytest.raises(FileNotFoundError, match="no batch_id"):
        read_ledger(spark, str(tmp_path / "nope"))
