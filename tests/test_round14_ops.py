"""Round-14 pins: ledger auto-compaction policy + single-writer/replay
guards and the delta-signature ledger schema contract (the Bloom
geometry tests live in tests/test_bloom.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE

# ------------------------------------------------ ledger compact_every


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k STRING, n BIGINT")


def _state(spark, sink):
    from hadoop_tfidf_spark.streaming.ledger import (
        read_ledger,
        reconstruct_latest,
    )

    return sorted(
        map(
            tuple,
            reconstruct_latest(read_ledger(spark, sink), ["k"]).collect(),
        )
    )


def test_compact_every_bounds_generation_count(spark, tmp_path):
    """SCALE.md's "compact every Nth commit" policy, wired into the sink:
    an N+k-commit stream never ends with more than N+1 generations, and
    reconstruction equals an uncompacted twin's at every commit."""
    from hadoop_tfidf_spark.streaming.ledger import (
        ledger_generations,
        ledger_upsert,
    )

    sink = str(tmp_path / "auto")
    plain = str(tmp_path / "plain")
    up = ledger_upsert(sink, keys=["k"], compact_every=3)
    up_plain = ledger_upsert(plain)
    mkdf = lambda b: _mk(spark, [(f"k{b % 4}", b), ("hot", b * 10)])
    for b in range(8):  # commits 0..7: folds (<= B-1) after batches 2, 5
        up(mkdf(b), b)
        up_plain(mkdf(b), b)
        assert _state(spark, sink) == _state(spark, plain)
        assert len(ledger_generations(sink)) <= 4  # N + 1
    # batch 5's fold covers <= 4 (NOT 5 itself): base at 4, then 5..7
    assert ledger_generations(sink) == [4, 5, 6, 7]
    assert len(ledger_generations(plain)) == 8
    # THE replay-wedge regression (the reason the fold point is B-1):
    # a crash between batch 5's inline fold and its checkpoint commit
    # re-delivers batch 5 — the replay must overwrite its own dir and
    # re-run the fold as a no-op, never hit a _COMPACTED marker
    up(mkdf(5), 5)
    assert ledger_generations(sink) == [4, 5, 6, 7]
    assert _state(spark, sink) == _state(spark, plain)


def test_compact_every_requires_keys(tmp_path):
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert

    with pytest.raises(ValueError, match="keys"):
        ledger_upsert(str(tmp_path / "x"), compact_every=3)


# -------------------------------------- single-writer / replay guards


def test_replay_of_compacted_base_fails_loudly(spark, tmp_path):
    """The one interleaving where overwrite-idempotence is NOT enough: a
    stream restarted from a pre-compaction checkpoint re-delivers the
    batch_id the fold landed on — overwriting the merged base would
    silently lose every folded row. The marker makes it loud."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("b", 2)]), 1)
    up(_mk(spark, [("a", 3)]), 2)
    compact_ledger(spark, sink, ["k"], through=2)
    want = _state(spark, sink)
    with pytest.raises(RuntimeError, match="compacted base"):
        up(_mk(spark, [("a", 3)]), 2)  # replay of the folded batch_id
    assert _state(spark, sink) == want  # nothing was overwritten


def test_replay_of_pre_base_generation_is_value_safe(spark, tmp_path):
    """A replayed batch_id STRICTLY BELOW the fold point recreates its
    dir, but the base generation still shadows it in reconstruction
    (deterministic replay content == what was folded) — allowed, and
    state-invariant."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("a", 2), ("b", 5)]), 1)
    up(_mk(spark, [("c", 7)]), 2)
    compact_ledger(spark, sink, ["k"], through=2)
    want = _state(spark, sink)
    up(_mk(spark, [("a", 2), ("b", 5)]), 1)  # same deterministic content
    assert _state(spark, sink) == want


def test_upsert_during_covering_compaction_fails_loudly(spark, tmp_path):
    """A compaction covering this batch_id is mid-flight (tmp dir
    stamped at t >= batch_id): writing now could be silently folded
    away — refuse. A NEWER batch is untouched by the swap and writes
    through."""
    from hadoop_tfidf_spark.streaming.ledger import ledger_upsert

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    os.makedirs(f"{sink}/_compact_tmp_through=5")
    with pytest.raises(RuntimeError, match="in\\s+flight"):
        up(_mk(spark, [("a", 2)]), 3)  # 3 <= 5: covered by the fold
    up(_mk(spark, [("a", 9)]), 6)  # 6 > 5: safe
    os.rmdir(f"{sink}/_compact_tmp_through=5")
    assert _state(spark, sink) == [("a", 9)]


def test_two_tmp_dirs_raise_instead_of_guessing(spark, tmp_path):
    """Two stamped tmp dirs = the single-writer contract was violated;
    recovery must not pick one arbitrarily (it could rename a stale
    base into place) — it raises with both paths listed."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("a", 2)]), 1)
    os.makedirs(f"{sink}/_compact_tmp_through=0")
    os.makedirs(f"{sink}/_compact_tmp_through=1")
    with pytest.raises(RuntimeError, match="single-writer"):
        compact_ledger(spark, sink, ["k"], through=1)


def test_compacted_marker_travels_and_is_invisible_to_reads(spark, tmp_path):
    """The marker lands inside the folded base dir (underscore-prefixed,
    ignored by parquet reads) and survives the swap rename."""
    from hadoop_tfidf_spark.streaming.ledger import (
        compact_ledger,
        ledger_upsert,
    )

    sink = str(tmp_path / "ledger")
    up = ledger_upsert(sink)
    up(_mk(spark, [("a", 1)]), 0)
    up(_mk(spark, [("b", 2)]), 1)
    before = _state(spark, sink)
    compact_ledger(spark, sink, ["k"], through=1)
    assert os.path.exists(f"{sink}/batch_id=1/_COMPACTED")
    assert _state(spark, sink) == before
    assert not glob.glob(f"{sink}/_compact_tmp_through=*")


# ------------------------------------ delta-signature schema contract


def test_delta_signatures_tolerates_wider_stored_ledger(spark):
    """The production recipe stores md5(text) (and whatever else) in the
    signature ledger; delta_signatures must project the carried side
    onto the signature schema instead of letting unionByName throw."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") < 40)
    new = docs.where(F.col("doc_id") < 50)
    stored = D.minhash_signatures(D.shingles(old)).withColumn(
        "text_hash", F.lit("deadbeef")
    )
    got = sorted(
        map(
            tuple,
            D.delta_signatures(
                stored, D.corpus_diff(old, new), new
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, D.minhash_signatures(D.shingles(new)).collect())
    )
    assert got == want


# ------------------------------ O(delta) ledger: no old-text scan


def test_delta_sign_equals_from_scratch_via_parquet_ledger(spark, tmp_path):
    """write_generation → read_generation → delta_sign round-trips to
    exactly sign_generation(new) — carried rows (incl. NULL-signature
    short docs) bit-equal a full re-sign."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    root = str(tmp_path / "sigs")
    D.write_generation(D.sign_generation(old), root, 0)
    out = D.delta_sign(D.read_generation(spark, root, 0), new)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, D.sign_generation(new).collect()))
    assert got == want
    # and the advanced generation lands beside gen 0
    D.write_generation(out, root, 1)
    assert sorted(
        map(tuple, D.read_generation(spark, root, 1).collect())
    ) == want


def test_delta_sign_plan_never_scans_old_text(spark, tmp_path):
    """THE O(delta) property: with the gen-0 ledger stored, advancing to
    gen 1 must not read the old generation's text at all — the old docs
    parquet appears NOWHERE in the plan (its hashes come from the
    ledger), and the only text scans are the new crawl's."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    old_path = str(tmp_path / "old_docs.parquet")
    docs.where(F.col("doc_id") % 10 != 0).write.parquet(old_path)
    root = str(tmp_path / "sigs")
    D.write_generation(
        D.sign_generation(spark.read.parquet(old_path)), root, 0
    )
    new = docs.where(F.col("doc_id") % 13 != 0)
    out = D.delta_sign(D.read_generation(spark, root, 0), new)
    # inputFiles() is the untruncatable census (plan strings elide long
    # Locations): every file feeding the plan is either the stored
    # ledger or the NEW crawl — never the old generation's text
    files = out.inputFiles()
    assert files and not any("old_docs.parquet" in f for f in files)
    assert any("sigs/generation=0" in f for f in files)  # the stored side
    # and the diff-side ledger scan prunes to the slim hash columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text_hash:string>" in plan


# --------------------------------- review-pass regressions (round 14b)


def test_delta_signatures_membership_matches_from_scratch(spark):
    """A sign_generation-style stored ledger carries NULL-signature rows
    for sub-k-word docs; delta_signatures must NOT leak them into its
    output (the from-scratch contract has no such rows)."""
    from hadoop_tfidf_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "hi"), (3, "one two three")],
        "doc_id BIGINT, text STRING",
    )
    stored = D.sign_generation(docs)  # doc 2 carries NULL signatures
    assert stored.where(F.col("mh_0").isNull()).count() == 1
    out = D.delta_signatures(stored, D.corpus_diff(docs, docs), docs)
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, D.minhash_signatures(D.shingles(docs)).collect())
    )
    assert got == want  # no phantom NULL row for unchanged doc 2
