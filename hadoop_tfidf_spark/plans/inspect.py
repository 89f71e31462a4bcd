"""Physical-plan inspection: pull the executed (post-AQE) plan string and
summarize the operators that matter at scale — shuffles (Exchange), scans,
join strategies, codegen coverage.

Why executed-plan and not ``explain()``: with AQE on, the static plan is a
placeholder; join strategy selection (broadcast vs sort-merge) and
partition coalescing happen at runtime, so scale assertions must look at
what actually ran.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, run: bool = True) -> str:
    """Return the physical plan string; with ``run=True`` executes the plan
    first so AQE has finalized every stage.

    Execution is via ``collect()`` deliberately: a ``write`` wraps the plan
    in a new command with its own QueryExecution, leaving the DataFrame's
    own plan un-finalized (``isFinalPlan=false``) — collect runs the very
    QueryExecution being inspected. Inspection-sized inputs only.
    """
    if run:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanStats:
    shuffle_exchanges: int
    rebalance_exchanges: int
    broadcast_exchanges: int
    reused_exchanges: int
    parquet_scans: int
    broadcast_hash_joins: int
    sort_merge_joins: int
    nested_loop_joins: int
    cartesian_products: int
    sorts: int
    codegen_spans: int
    #: Stateful streaming exec nodes (StateStoreSave / session-window save /
    #: stream-stream join / applyInPandasWithState) — 0 for batch plans.
    state_stores: int = 0
    #: WindowGroupLimit nodes in Partial mode — the pre-shuffle rank-limit
    #: pushdown (each map task keeps only its local top-k per key BEFORE
    #: the exchange). This is what makes `row_number() <= k` top-k windows
    #: scale: without it the shuffle carries the whole corpus. Spark only
    #: inserts it for rank/row_number filters on the window column itself —
    #: filtering a derived column silently loses it, so the census pins it.
    partial_window_group_limits: int = 0
    #: All WindowGroupLimit nodes (Partial + Final).
    window_group_limits: int = 0
    #: The ``ReadSchema`` of each counted parquet scan, in plan order — which
    #: columns each scan reads (a scan of ``text`` re-tokenizes the corpus;
    #: a column-less ``struct<>`` scan is a row count).
    read_schemas: tuple[str, ...] = ()


def streaming_executed_plan(query) -> str:
    """Physical plan of a StreamingQuery's last executed micro-batch.

    ``explainInternal(False)`` is the programmatic form of
    ``StreamingQuery.explain()`` (which only prints): it returns the
    micro-batch's *executed* plan — state stores, watermark assignment,
    and the per-batch shuffles — which a batch DataFrame census can never
    see (collecting a drained memory sink would census the sink scan, not
    the dataflow). Works on a terminated query as long as at least one
    micro-batch ran.
    """
    return query._jsq.explainInternal(False)


def plan_stats(df: DataFrame, run: bool = True) -> PlanStats:
    """Operator census of the (executed) physical plan.

    The plan string repeats cached subtrees (each ``InMemoryTableScan``
    re-prints its ``InMemoryRelation`` build plan), so naive substring
    counts overstate work that runs once. Operators are deduped by their
    ``plan_id`` where present, by full line text otherwise.
    """
    return plan_stats_from_string(executed_plan(df, run=run))


def plan_stats_from_string(plan: str) -> PlanStats:
    """Census over an already-captured plan string (batch executed plan or
    a streaming micro-batch plan from :func:`streaming_executed_plan`)."""

    def _indent(line: str) -> int:
        m = re.match(r"^[\s:|]*(?:\+- |:- )?", line)
        return m.end()

    # Prune (a) "== Initial Plan ==" sections — AQE prints the pre-adaptive
    # plan alongside the final one, duplicating every operator — and
    # (b) repeated InMemoryRelation build subtrees — the cache is built
    # once but its plan is re-printed under every InMemoryTableScan (the
    # first occurrence is kept so the cache-build shuffle still counts).
    lines: list[str] = []
    seen_imr = False
    skip_threshold: int | None = None
    skip_inclusive = False  # initial-plan children print at the marker's indent
    for line in plan.splitlines():
        ind = _indent(line)
        if skip_threshold is not None:
            if ind > skip_threshold or (skip_inclusive and ind == skip_threshold):
                continue
            skip_threshold = None
        if "== Initial Plan ==" in line:
            skip_threshold, skip_inclusive = ind, True
            continue
        if "InMemoryRelation" in line:
            if seen_imr:
                skip_threshold, skip_inclusive = ind, False
                continue
            seen_imr = True
        lines.append(line)

    def matching(pattern: str) -> list[str]:
        ids: set[str] = set()
        out = []
        for line in lines:
            if not re.search(pattern, line):
                continue
            m = re.search(r"\[plan_id=(\d+)\]", line)
            key = m.group(1) if m else line.strip()
            if key not in ids:
                ids.add(key)
                out.append(line)
        return out

    def n(pattern: str) -> int:
        return len(matching(pattern))

    scan_pattern = r"Scan parquet|FileScan parquet"

    return PlanStats(
        # "Exchange hashpartitioning/rangepartitioning/..." = a logical
        # regrouping shuffle; BroadcastExchange is counted separately (no
        # all-to-all data motion). Round-robin exchanges are the adaptive
        # scan rebalance (corpus.rebalance_scan) — data-parallelism repair
        # for under-partitioned inputs, not a semantic regrouping, and
        # absent on a well-partitioned cluster read — tracked separately so
        # shuffle budgets stay environment-independent.
        shuffle_exchanges=n(r"(?<!Broadcast)(?<!Reused)Exchange (?:hash|range|Single)"),
        rebalance_exchanges=n(r"(?<!Broadcast)(?<!Reused)Exchange RoundRobin"),
        broadcast_exchanges=n(r"BroadcastExchange"),
        reused_exchanges=n(r"ReusedExchange"),
        parquet_scans=n(scan_pattern),
        broadcast_hash_joins=n(r"BroadcastHashJoin"),
        sort_merge_joins=n(r"SortMergeJoin"),
        nested_loop_joins=n(r"BroadcastNestedLoopJoin"),
        cartesian_products=n(r"CartesianProduct"),
        sorts=n(r"\bSort\b"),
        # toString marks codegen stages as "*(n)" prefixes (the name
        # WholeStageCodegen only appears in formatted explain output)
        codegen_spans=len({m for m in re.findall(r"\*\((\d+)\)", plan)}),
        state_stores=n(
            r"StateStoreSave|SessionWindowStateStoreSave"
            r"|StreamingSymmetricHashJoin|FlatMapGroupsInPandasWithState"
        ),
        partial_window_group_limits=n(r"WindowGroupLimit .*, Partial"),
        window_group_limits=n(r"WindowGroupLimit "),
        read_schemas=tuple(
            m.group(1)
            for m in (
                re.search(r"ReadSchema: (\S+)", ln)
                for ln in matching(scan_pattern)
            )
            if m
        ),
    )
