"""Unit tests for the relational extension operators: as-of join edge
semantics and approximate-aggregate error bounds (the two surfaces the
DuckDB oracle can't fully check), RANGE window frames, min_by/max_by
extremes, window-over-aggregate shares and DST-proof order gaps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_tfidf_spark.operators import relational as R
from hadoop_tfidf_spark.operators.asof import asof_join
from hadoop_tfidf_spark.operators.relational import approx_distinct_stats
from tests.conftest import SF_DIR_SMOKE, TZ_KEY


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


def test_asof_forward_picks_earliest_at_or_after(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 40), (2, 5)], "id INT, t BIGINT"
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "b"), (2, 1, "c")], "id INT, rt BIGINT, v STRING"
    )
    out = asof_join(
        left, right, on="id", left_time="t", right_time="rt",
        right_values=["v"], direction="forward",
    )
    got = {(r.id, r.t): r.v_asof for r in out.collect()}
    # t=10 matches rt=10 (inclusive), t=25 skips ahead to rt=30,
    # t=40 has nothing after it, id=2 t=5 has nothing at-or-after
    assert got == {(1, 10): "a", (1, 25): "b", (1, 40): None, (2, 5): None}


def test_asof_backward_still_latest_at_or_before(spark):
    left = spark.createDataFrame([(1, 10), (1, 35)], "id INT, t BIGINT")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "b")], "id INT, rt BIGINT, v STRING"
    )
    out = asof_join(
        left, right, on="id", left_time="t", right_time="rt",
        right_values=["v"], direction="backward",
    )
    got = {(r.id, r.t): r.v_asof for r in out.collect()}
    assert got == {(1, 10): "a", (1, 35): "b"}


def test_asof_rejects_unknown_direction(spark):
    df = spark.range(1)
    try:
        asof_join(df, df, on="id", left_time="id", right_time="id",
                  right_values=["id"], direction="sideways")
    except ValueError as e:
        assert "sideways" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_range_frame_counts_time_not_rows(spark):
    # Three events inside one 3600 s horizon, one far outside it.
    ev = spark.createDataFrame(
        [(1, 100, 0, 1.0), (2, 100, 1800, 2.0), (3, 100, 3600, 4.0),
         (4, 100, 100000, 8.0)],
        "event_id BIGINT, user_id BIGINT, s BIGINT, value DOUBLE",
    ).withColumn("ts_ns", F.col("s") * F.lit(1_000_000_000)).drop("s")
    out = {r.event_id: (r.trailing_sum, r.trailing_n)
           for r in R.events_range_frame(ev).collect()}
    assert out[1] == (1.0, 1)
    assert out[2] == (3.0, 2)
    # t=3600 still includes t=0 (inclusive 3600 s lookback)
    assert out[3] == (7.0, 3)
    # the outlier's frame contains only itself
    assert out[4] == (8.0, 1)


def test_user_extremes_tie_breaks_on_event_id(spark):
    ev = spark.createDataFrame(
        [(1, 7, "click", 5.0), (2, 7, "view", 5.0), (3, 7, "error", 1.0)],
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
    )
    row = R.user_event_extremes(ev).collect()[0]
    # max tie at 5.0 → greater event_id (view); min is the 1.0 row
    assert row.top_event_type == "view"
    assert row.bottom_event_type == "error"
    assert row.n_events == 3


def test_market_share_sums_to_one_per_region_year(spark):
    out = (
        R.nation_market_share(
            *(spark.read.parquet(f"{SF_DIR_SMOKE}/{t}.parquet")
              for t in ("orders", "customer", "nation", "region"))
        )
        .groupBy("r_name", "o_year")
        .agg(F.round(F.sum("share"), 3).alias("total"))
        .collect()
    )
    assert out and all(abs(r.total - 1.0) < 0.01 for r in out)


def test_order_gaps_are_dst_proof(spark):
    """Consecutive order dates must be exactly 86400s apart regardless of
    session timezone — a date->timestamp cast computes midnight in the
    session zone, making a spring-forward gap 90000s (the bug the
    New-York-zone contract drive caught)."""
    import datetime as dt

    from hadoop_tfidf_spark.operators.relational import order_gaps

    orders = spark.createDataFrame(
        [
            (1, 10, dt.date(2021, 3, 13), 10.0),  # day before US spring-forward
            (1, 11, dt.date(2021, 3, 14), 10.0),  # DST transition day
            (1, 12, dt.date(2021, 3, 15), 10.0),
        ],
        "o_custkey BIGINT, o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE",
    )
    prev = spark.conf.get(TZ_KEY)
    spark.conf.set(TZ_KEY, "America/New_York")
    try:
        gaps = [
            r.gap_s
            for r in order_gaps(orders).orderBy("order_seq").collect()
        ]
    finally:
        spark.conf.set(TZ_KEY, prev)
    assert gaps == [None, 86400, 86400]
