"""General relational operator surface over the TPC-H-ish testdata:
aggregation pipelines, multi-way broadcast joins, window top-k, rollup
grouping sets, and JSON extraction — the SURVEY.md §2 "capability gaps"
table (joins / grouping sets / windows / scalar functions) exercised as
declared, oracle-checked queries.

Scale notes are per-function; the common theme: dimension tables
(region/nation/customer at TPC-H proportions) are broadcast so the fact
scan never shuffles for the join, and every aggregation keys on
well-distributed columns with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_tfidf_spark.functions.literals import _local_relation


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → wide aggregate.

    One shuffle on the 6-value (returnflag, linestatus) key; partial
    aggregation collapses ~everything map-side, so the exchange moves a few
    rows per partition regardless of fact size. Filter + column pruning
    reach the parquet scan.
    """
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def revenue_by_region(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Fact → dim → dim → dim star join, all dims broadcast: revenue per
    region per order year. The orders scan is the only large input; it
    flows through three broadcast hash joins with zero shuffles, then one
    aggregation exchange on (r_name, o_year)."""
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name"), F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )


def top_customers_per_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, k: int = 5
) -> DataFrame:
    """Per-group top-k via window ranking: top ``k`` customers by order
    revenue within each nation. The window partitions on n_name (25 keys
    here; at scale partition on the natural higher-cardinality group) after
    an aggregation that already shrank the data to one row per customer."""
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "c_name", "revenue")
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
    )


def acctbal_rollup(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """ROLLUP grouping sets: account balance totals at (region, nation),
    (region), and grand-total levels. NULL group labels are normalized to
    'ALL' so the output is engine-portable and hash-stable."""
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count("*").cast("bigint").alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "total_acctbal",
            "n_customers",
        )
    )


def events_tumbling(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream (batch
    form; the streaming form with watermarks is
    :func:`hadoop_tfidf_spark.streaming.windows.windowed_event_counts`).

    Window key = integer ``div`` on epoch nanos (``ts_ns`` from
    ``sources.events.load_events``) — exact integer arithmetic, identical
    to DuckDB's ``epoch_ns(ts) //``, timezone- and float-proof."""
    hour = F.expr("ts_ns div 3600000000000").alias("epoch_hour")
    return events.groupBy(hour, "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization: per-user sessions split at
    ``gap_minutes`` of inactivity. Two windows over the same (user_id, ts)
    partitioning — one shuffle total. Returns one row per session.

    The streaming equivalent is ``F.session_window`` (see
    ``streaming/windows.py``); this batch form is the oracle-checkable one.
    All time math is integer MICROseconds: exact in both engines (DuckDB
    truncates nanosecond parquet timestamps to micros on read, so the
    micro basis is the finest cross-engine-stable one).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    # event_id tie-break: same-ts rows can't open a session, but a total
    # window order keeps the plan deterministic across engines/runs.
    with_us = events.withColumn("ts_us", F.expr("ts_ns div 1000"))
    w_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = with_us.select(
        "user_id",
        "ts_us",
        "event_id",
        "value",
        F.when(
            F.col("ts_us") - F.lag("ts_us", 1).over(w_user) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)).alias("new_sess"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.expr("min(ts_us) div 1000000").alias("session_start"),
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def event_type_pivot(events: DataFrame) -> DataFrame:
    """Pivot: per-user event-type counts as columns. ``groupBy().pivot()``
    with the value list given explicitly — at scale an explicit list avoids
    the extra distinct-values job and keeps the schema stable."""
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in types],
    )


def region_year_cube(orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """CUBE grouping sets over (region, order-year): all four aggregation
    levels in one pass (Spark expands to a single shuffle with a grouping-id
    column — not four scans)."""
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("r_name", F.year("o_orderdate").cast("bigint").alias("o_year"), "o_totalprice")
    )
    return (
        joined.cube("r_name", "o_year")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("o_year"), F.lit(-1)).cast("bigint").alias("o_year"),
            "revenue",
            "n_orders",
        )
    )


def segment_region_grouping_sets(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Explicit GROUPING SETS ((region), (segment), (region, segment)) —
    the non-hierarchical sets neither ROLLUP nor CUBE expresses (no
    grand-total set). One pass, one shuffle: Spark expands the sets into
    a single aggregation keyed by (groups, grouping-id), exactly like the
    rollup/cube plans. NULL group labels normalized to 'ALL'."""
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("r_name", "c_mktsegment", "c_acctbal")
    )
    return (
        joined.groupingSets(
            [["r_name"], ["c_mktsegment"], ["r_name", "c_mktsegment"]],
            "r_name",
            "c_mktsegment",
        )
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count("*").cast("bigint").alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("c_mktsegment"),
            "total_acctbal",
            "n_customers",
        )
    )


def order_gaps(orders: DataFrame) -> DataFrame:
    """Per-customer order sequencing with lag + running frames: order
    index, seconds since the customer's previous order, and running spend.

    Window partitioned by ``o_custkey`` (never global — scales with the
    key space) and totally ordered by (date, key) so lag/row_number are
    deterministic. Gap arithmetic on epoch seconds (exact integers, no
    date-part/timezone semantics to align across engines)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # Pure DATE arithmetic (days since epoch × 86400) — matches DuckDB
    # epoch() on a naive date AND is session-timezone-independent. A
    # date→timestamp→long cast is NOT: it resolves midnight in the session
    # zone, so under a DST-observing zone two consecutive days can be
    # 90000/82800 s apart (caught by the New-York-zone contract drive).
    epoch = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast(
        "long"
    ) * F.lit(86400)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        (epoch - F.lag(epoch).over(w)).alias("gap_s"),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_spend"),
    )


def acctbal_ntiles(
    customer: DataFrame, nation: DataFrame, n_tiles: int = 4
) -> DataFrame:
    """Within-nation account-balance quartiles: ntile over a totally
    ordered per-nation window, re-aggregated to one row per
    (nation, quartile). The window partitions by nation — bounded
    partitions, never the single-partition global-ntile antipattern."""
    w = Window.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    tiled = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_acctbal", "c_custkey")
        .withColumn("quartile", F.ntile(n_tiles).over(w).cast("bigint"))
    )
    return tiled.groupBy("n_name", "quartile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


def price_percentiles(lineitem: DataFrame) -> DataFrame:
    """EXACT continuous percentiles (median / p90) per return flag —
    complements the sketch-based ``approx_distinct_stats``: ``percentile``
    interpolates linearly on the sorted group exactly as DuckDB's
    ``quantile_cont``, so this one IS oracle-hash-checkable. Exact
    percentiles need the full group in memory per key — fine for
    low-cardinality keys like returnflag; use ``percentile_approx`` when
    the key space or group size explodes."""
    p = F.percentile("l_extendedprice", F.lit([0.5, 0.9]))
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.round(p.getItem(0), 6).alias("price_p50"),
        F.round(p.getItem(1), 6).alias("price_p90"),
    )


def events_hopping(events: DataFrame) -> DataFrame:
    """Sliding (hopping) 60-minute windows every 30 minutes, batch form:
    each event belongs to exactly two hops. Window id by integer ``div``
    on epoch nanos (``ts_ns``) — exact arithmetic, engine-portable — and
    the 2× fan-out is a narrow ``explode`` before the single aggregation
    shuffle (the streaming twin is ``F.window(ts, '60 minutes',
    '30 minutes')``, same semantics)."""
    hop = F.expr("ts_ns div 1800000000000")
    return (
        events.select(
            F.explode(F.array(hop, hop - F.lit(1))).alias("hop_id"),
            "event_type",
            "value",
        )
        .groupBy((F.col("hop_id") * 1800).alias("window_start_s"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def events_time_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style hierarchical time rollup: event counts at
    (day, hour), (day), and grand-total granularities in ONE pass —
    ``ROLLUP`` expands the grouping sets inside a single aggregation
    shuffle instead of three scans. Time keys are integer ``div`` on epoch
    nanos (exact, engine-portable); NULL rollup levels normalized to -1.
    """
    day = F.expr("ts_ns div 86400000000000").alias("epoch_day")
    hour = F.expr("ts_ns div 3600000000000").alias("epoch_hour")
    return (
        events.select(day, hour, "value")
        .rollup("epoch_day", "epoch_hour")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("epoch_day"), F.lit(-1)).cast("bigint").alias("epoch_day"),
            F.coalesce(F.col("epoch_hour"), F.lit(-1)).cast("bigint").alias("epoch_hour"),
            "n_events",
            "total_value",
        )
    )


def parts_with_shipments(part: DataFrame, lineitem: DataFrame, year: int) -> DataFrame:
    """Left-semi join surface (EXISTS): parts with at least one lineitem
    shipped in ``year``. Semi join keeps only the key from the probe side
    — no fact-table payload crosses the shuffle, and AQE may broadcast
    the aggregated key set."""
    shipped = lineitem.where(F.year("l_shipdate") == year).select(
        F.col("l_partkey").alias("p_partkey")
    )
    return part.join(shipped, "p_partkey", "left_semi").select(
        "p_partkey", "p_brand", "p_type"
    )


def customers_without_orders(
    customer: DataFrame, orders: DataFrame, year: int | None = None
) -> DataFrame:
    """Set-op / anti-join surface: customers with no orders (optionally: no
    orders in ``year``). Expressed as a left-anti join (the scalable form of
    EXCEPT on a key — no full-row comparison, one shuffle on the key, AQE
    may broadcast); the year predicate is pushed below the join so the anti
    side scans one partition's worth of orders, not all of them."""
    if year is not None:
        orders = orders.where(F.year("o_orderdate") == year)
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


def approx_distinct_stats(lineitem: DataFrame) -> DataFrame:
    """Approximate aggregates (HyperLogLog++ / GK quantiles) — sketch-based,
    so NOT oracle-hash-checkable (declared rows-only; the unit test bounds
    the error vs exact instead). At 100 TB these replace exact distinct
    counts: fixed-size sketch state, one shuffle, no giant hash tables."""
    q = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        # scalar columns, not one array column: the driver's rows-only check
        # still canonicalizes via pandas sort, which can't sort list cells
        F.round(q.getItem(0), 2).alias("price_p50"),
        F.round(q.getItem(1), 2).alias("price_p95"),
        F.round(q.getItem(2), 2).alias("price_p99"),
    )


def approx_distinct_bounds(
    lineitem: DataFrame,
    hll_tol: float = 0.1,
    pct_tol: float = 0.05,
) -> DataFrame:
    """Error-envelope twin of :func:`approx_distinct_stats` — the form the
    hash gate CAN check: exact values ride along, the sketch estimates are
    reduced to in-bounds FLAGS (1 iff within ``hll_tol``/``pct_tol``
    relative error of exact), and the oracle asserts the flags are
    literally 1. A sketch gone wrong (or a Spark upgrade changing HLL++
    behavior past its rsd contract) flips a flag and fails the hash row —
    strictly stronger than the rows-only check the raw-estimate query gets.
    Both sketch and exact aggregates run in the ONE groupBy (single
    shuffle); the exact aggregates exist only at gate scale — at 100 TB you
    run :func:`approx_distinct_stats` and skip the exact twin (that being
    the point of sketches).
    """
    qa = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    qe = F.percentile("l_extendedprice", F.lit([0.5, 0.95, 0.99]))
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_apx"),
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
        qa.alias("_qa"),
        qe.alias("_qe"),
    )

    def ok(a: Column, e: Column, tol: float) -> Column:
        return (F.abs(a - e) <= F.lit(tol) * F.abs(e)).cast("bigint")

    return agg.select(
        "l_returnflag",
        "n_items",
        "exact_parts",
        ok(F.col("_apx"), F.col("exact_parts"), hll_tol).alias("hll_ok"),
        ok(F.col("_qa").getItem(0), F.col("_qe").getItem(0), pct_tol).alias("p50_ok"),
        ok(F.col("_qa").getItem(1), F.col("_qe").getItem(1), pct_tol).alias("p95_ok"),
        ok(F.col("_qa").getItem(2), F.col("_qe").getItem(2), pct_tol).alias("p99_ok"),
    )


def user_value_moving_avg(events: DataFrame, frame_rows: int = 7) -> DataFrame:
    """Sliding window-frame aggregation: per-user trailing ``frame_rows``-row
    moving average of ``value`` (lag/lead/rowsBetween surface — the
    reference has no window functions at all). One shuffle on user_id;
    frame state is O(frame) per task."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-(frame_rows - 1), Window.currentRow)
    )
    with_us = events.withColumn("ts_us", F.expr("ts_ns div 1000"))
    return with_us.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(F.avg("value").over(w), 6).alias("moving_avg"),
        F.count("*").over(w).cast("bigint").alias("frame_n"),
    )


def repeat_customers(orders: DataFrame, year_a: int, year_b: int) -> DataFrame:
    """Set-op surface: custkeys ordering in BOTH years (INTERSECT). Spark
    plans intersect as a left-semi aggregate join — one shuffle per side on
    the key, no full-row sort."""
    a = orders.where(F.year("o_orderdate") == year_a).select("o_custkey")
    b = orders.where(F.year("o_orderdate") == year_b).select("o_custkey")
    return a.intersect(b)


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Range (band) join: attach to each fact row the band whose
    ``[lo, hi)`` interval contains ``value_col`` — a non-equi join the
    reference engine has no analog for (SURVEY.md §2 gap table: range/as-of
    joins).

    The band table is broadcast (bands are small by nature), so Spark plans
    a BroadcastNestedLoopJoin: the fact side streams through executors with
    zero shuffle. At 100 TB this is the right physical shape for O(10–100)
    bands; for large interval tables the scale path is equi-bucketing (join
    on ``width_bucket``-style coarse buckets, then the residual range
    filter), which turns it into a shuffle-free broadcast equi-join too.
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(F.broadcast(bands), cond, "inner")


def price_band_summary(orders: DataFrame, spark: SparkSession) -> DataFrame:
    """Declared range-join query: order revenue binned into static price
    bands. One broadcast NLJ + one 3-key aggregation."""
    bands = _local_relation(
        spark,
        [("small", 0.0, 100_000.0), ("medium", 100_000.0, 250_000.0),
         ("large", 250_000.0, 600_000.0)],
        "band STRING, lo DOUBLE, hi DOUBLE",
    )
    return (
        range_join(orders, bands, "o_totalprice")
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def order_calendar(orders: DataFrame) -> DataFrame:
    """Scalar-function surface: date parts, truncation, epoch arithmetic,
    and string parsing in one narrow projection (no shuffle at all) — the
    date/string/math function families the reference lacks entirely
    (SURVEY.md §2 gap table; its only scalar ops are log10/*/+/concat)."""
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("o_year"),
        F.quarter(d).cast("bigint").alias("o_quarter"),
        F.month(d).cast("bigint").alias("o_month"),
        # weekday(): 0=Monday — +1 matches DuckDB's isodow (1=Mon..7=Sun)
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
        F.trunc(d, "month").alias("month_start"),
        F.datediff(d, F.lit("1970-01-01")).cast("bigint").alias("epoch_days"),
        F.split("o_orderpriority", "-").getItem(0).cast("bigint").alias("prio_num"),
        F.lower(F.split("o_orderpriority", "-").getItem(1)).alias("prio_word"),
    )


def click_purchase_funnel(events: DataFrame) -> DataFrame:
    """FULL OUTER join surface: per-user click counts joined with per-user
    purchase stats — users exist on one side only in both directions, so
    both null-extensions are exercised. Using-join on user_id coalesces the
    key; counts are null-filled to 0. One shuffle per side + the join
    exchange (AQE may broadcast the smaller aggregate)."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_clicks"))
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum("value"), 6).alias("purchase_value"),
        )
    )
    return clicks.join(purchases, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).cast("bigint").alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).cast("bigint").alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
    )


def lapsed_customers(orders: DataFrame, year_a: int, year_b: int) -> DataFrame:
    """Set-op surface: custkeys ordering in ``year_a`` but NOT in
    ``year_b`` (EXCEPT — the complement of :func:`repeat_customers`).
    Spark plans except as a left-anti aggregate join."""
    a = orders.where(F.year("o_orderdate") == year_a).select("o_custkey")
    b = orders.where(F.year("o_orderdate") == year_b).select("o_custkey")
    return a.subtract(b)


def nation_market_share(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Window-over-aggregate: each nation's share of its region's yearly
    revenue. The aggregation shrinks the fact table to (region, nation,
    year) grain first, so the share window runs over a tiny relation —
    the scalable shape for ratio-to-parent reports (never window the raw
    fact rows)."""
    per_nation = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            "r_name", "n_name", F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("r_name", "o_year")
    return per_nation.select(
        "r_name",
        "n_name",
        "o_year",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


def status_priority_mix(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12-shaped conditional aggregation over a fact-to-fact join:
    lineitem ⋈ orders on orderkey, CASE-WHEN urgency counts per order
    status (the testdata lineitem has no shipmode column; status plays
    the low-cardinality group role).

    This is the one big-big join in the surface — both sides shuffle on
    orderkey (sort-merge under AQE); the shipdate filter cuts lineitem
    before the exchange and pushes to the parquet scan. At 100 TB,
    bucketing both tables on orderkey makes this join shuffle-free."""
    filtered = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        filtered.join(orders, filtered.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


def returned_item_customers(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: top-``k`` customers by
    revenue lost to returned lineitems. Fact-to-fact join on orderkey
    (filters pushed to both scans), dims broadcast, then
    ``orderBy().limit(k)`` plans TakeOrderedAndProject — top-k without a
    global sort."""
    returned = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def events_range_frame(events: DataFrame, window_s: int = 3600) -> DataFrame:
    """RANGE window frame (time-based, not row-based): per-user sum/count
    of ``value`` over the trailing ``window_s`` seconds at each event.
    Unlike a rows-frame, simultaneous bursts contribute fully regardless
    of row count. Ordering key = epoch seconds (integer, engine-portable);
    one shuffle on user_id."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-window_s, 0)
    )
    with_s = events.withColumn("ts_s", F.expr("ts_ns div 1000000000"))
    return with_s.select(
        "event_id",
        "user_id",
        "ts_s",
        F.round(F.sum("value").over(w), 6).alias("trailing_sum"),
        F.count("*").over(w).cast("bigint").alias("trailing_n"),
    )


def user_event_extremes(events: DataFrame) -> DataFrame:
    """min_by/max_by aggregation surface: per user, the event type of the
    highest- and lowest-valued event plus value extremes. One shuffle with
    full map-side partial aggregation (min_by carries one candidate row of
    state per group)."""
    # value ties: testdata values are continuous doubles (ties absent);
    # event_id tie-break keeps it deterministic anyway
    pair = F.struct(F.col("value"), F.col("event_id"))
    return events.groupBy("user_id").agg(
        F.max_by("event_type", pair).alias("top_event_type"),
        F.min_by("event_type", pair).alias("bottom_event_type"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.count("*").cast("bigint").alias("n_events"),
    )


def orders_above_customer_avg(orders: DataFrame) -> DataFrame:
    """Correlated-predicate surface (decorrelated by hand the way Catalyst
    does): orders strictly above their own customer's average order value.
    Expressed as an aggregate + self-equi-join — one shuffle each side on
    o_custkey (AQE broadcasts the per-customer aggregate when small)."""
    avg_per_cust = orders.groupBy("o_custkey").agg(
        F.avg("o_totalprice").alias("cust_avg")
    )
    return (
        orders.join(avg_per_cust, "o_custkey")
        .where(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            # averages of 2-decimal money can sit exactly ON the half-cent
            # rounding boundary (sum_cents/n = x.xx5), where a 1-ulp
            # cross-engine difference flips round(x, 2) — 6 decimals keeps
            # the boundary far from representable targets (sums are safe at
            # 2: they carry exactly 2 decimals, never a third digit of 5)
            F.round("cust_avg", 6).alias("cust_avg"),
        )
    )


def click_purchase_interval_join(
    events: DataFrame, horizon_s: int = 1800
) -> DataFrame:
    """Interval (time-bounded) join: every (click, purchase) pair for the
    same user where the purchase lands within ``horizon_s`` seconds AFTER
    the click — attribution pairing, the batch twin of the stream-stream
    interval join in ``streaming/joins.py``.

    Plans as an equi-join on user_id with the time band as a post-join
    filter — one shuffle per side, no range explosion (pairs are bounded
    by per-user activity within the horizon, not by table sizes).
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.expr("ts_ns div 1000000000").alias("click_s"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.expr("ts_ns div 1000000000").alias("purchase_s"),
        "value",
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_s") >= F.col("click_s"))
            & (F.col("purchase_s") <= F.col("click_s") + horizon_s),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.col("purchase_s") - F.col("click_s")).alias("lag_s"),
            F.round("value", 6).alias("purchase_value"),
        )
    )


def json_props_stats(events: DataFrame) -> DataFrame:
    """JSON extraction + aggregation: pull ``$.k`` out of the ``props``
    JSON string column, aggregate per event type. ``get_json_object`` is a
    codegen'd JVM expression — no Python."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )
