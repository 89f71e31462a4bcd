"""Unit tests for the relational extension operators: as-of join edge
semantics and approximate-aggregate error bounds (the two surfaces the
DuckDB oracle can't fully check)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators.asof import asof_join
from hadoop_tfidf_spark.operators.relational import approx_distinct_stats
from tests.conftest import SF_DIR_SMOKE


class TestAsofJoin:
    @pytest.fixture(scope="class")
    def joined(self, spark):
        left = spark.createDataFrame(
            [(1, 5), (1, 10), (1, 15), (1, 25), (2, 10)], ["k", "t"]
        )
        right = spark.createDataFrame(
            [(1, 10, 5.0), (1, 20, 7.0), (3, 1, 9.0)], ["k", "rt", "v"]
        )
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            right_values=["v"],
        )
        return {(r.k, r.t): r.v_asof for r in out.collect()}

    def test_no_prior_row_gives_null(self, joined):
        assert joined[(1, 5)] is None
        assert joined[(2, 10)] is None  # key never in right

    def test_boundary_is_inclusive(self, joined):
        assert joined[(1, 10)] == 5.0

    def test_carries_most_recent(self, joined):
        assert joined[(1, 15)] == 5.0
        assert joined[(1, 25)] == 7.0

    def test_left_rows_preserved(self, joined):
        assert len(joined) == 5  # every left row appears exactly once

    def test_null_right_value_wins(self, spark):
        """A genuinely NULL right value is still the most recent match —
        it must NOT be skipped in favor of an older non-NULL value
        (DuckDB ASOF picks the latest row regardless of value nullity)."""
        left = spark.createDataFrame([(1, 30)], ["k", "t"])
        right = spark.createDataFrame(
            [(1, 10, 5.0), (1, 20, None)], "k BIGINT, rt BIGINT, v DOUBLE"
        )
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            right_values=["v"],
        ).collect()
        assert len(out) == 1
        assert out[0].v_asof is None  # the t=20 NULL row, not the t=10 5.0


def test_approx_distinct_error_bound(spark):
    """HLL++ with rsd=0.02 should land within a few percent of exact; the
    declared query carries both columns so this is checkable anywhere."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    rows = approx_distinct_stats(li).collect()
    assert len(rows) > 0
    for r in rows:
        rel_err = abs(r.approx_parts - r.exact_parts) / r.exact_parts
        assert rel_err < 0.1, (r.l_returnflag, r.approx_parts, r.exact_parts)
        assert r.price_p50 <= r.price_p95 <= r.price_p99


def test_approx_distinct_bounds_flags_hold(spark):
    """The envelope twin's flags must be 1 on real data (HLL rsd=0.02 vs a
    10% tolerance; GK accuracy=10000 vs 5%) and its exact columns must
    equal the plain exact aggregation."""
    from hadoop_tfidf_spark.operators.relational import approx_distinct_bounds

    li = spark.read.parquet(f"{SF_DIR_SMOKE}/lineitem.parquet")
    rows = approx_distinct_bounds(li).collect()
    assert rows
    for r in rows:
        assert (r.hll_ok, r.p50_ok, r.p95_ok, r.p99_ok) == (1, 1, 1, 1), r
    exact = {
        (r.l_returnflag): r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert {r.l_returnflag: r.exact_parts for r in rows} == exact
