"""Physical-plan inspection helpers.

The reference hand-optimizes its physical plan in Java (SURVEY.md §4);
this engine delegates to Catalyst and VERIFIES the outcome instead:
tests assert that filters reach the parquet scan, dimension joins
broadcast, scans prune columns, and operators don't shuffle more than
their algebra requires.  A plan regression (a lost pushdown, a join
that silently degrades to sort-merge-exchange) fails the suite even
while results stay correct — at 100 TB the plan IS the product.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # pragma: no cover
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the final plan (reused ones counted once)."""
    plan = executed_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in executed_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans.

    Parsed from the FORMATTED explain: the simple plan string
    truncates long FileScan lines, silently dropping the filter list
    (which made this check pass vacuously for single-filter scans and
    fail for multi-filter ones)."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]\n]*)", plan)


_TREE_LINE = re.compile(r"^([ :+\-]*)(\*\(\d+\)\s*)?(.*)$")


def single_partition_window_sorts(plan: str) -> list[str]:
    """Parent node names of every `Exchange SinglePartition` that
    feeds a Sort / Window / WindowGroupLimit in the plan string.

    This is the 100 TB straggler class the round-8 audit found twice
    (an unpartitioned ranking window over all items; a cumulative CDF
    window over a |users|-sized histogram): EVERY row of the child
    frame funnels through ONE task to be sorted.  A SinglePartition
    exchange feeding a global HashAggregate is NOT flagged — that is
    the normal final step of a partial-aggregate reduction and moves
    one row per partial, not the frame.

    Parsing: plan toString renders one node per line, children
    indented by 3 chars of tree-drawing prefix ([ :+-]*, plus a
    codegen `*(n) ` marker); a node's parent is the nearest line
    above with a shorter prefix."""
    parsed = [_TREE_LINE.match(l) for l in plan.splitlines()]
    nodes = [(len(m.group(1)), m.group(3)) for m in parsed]
    out = []
    for i, (depth, name) in enumerate(nodes):
        if not name.startswith("Exchange SinglePartition"):
            continue
        for j in range(i - 1, -1, -1):
            pdepth, pname = nodes[j]
            if pdepth < depth:
                # SortAggregate is a global REDUCTION (one partial
                # row per partition through the exchange), not a
                # full-frame sort — same exemption as HashAggregate
                if pname.startswith(
                    ("Sort", "Window", "WindowGroupLimit")
                ) and not pname.startswith("SortAggregate"):
                    out.append(pname.split("[")[0].strip())
                break
    return out


# ── streaming micro-batch plan capture ──────────────────────────────
# The batch lints above can't see inside a streaming query: the
# executed micro-batch plans live in the StreamExecution (for
# watermark/agg/join queries) or in foreachBatch bodies (for the
# MERGE-style sinks).  This registry lets a test observe BOTH without
# per-query instrumentation cost.  There is one seam:
# streaming/ad_stream.py::run_bounded, the start of every bounded
# stream, captures the last micro-batch's executed plan (via
# explainInternal) when its caller passes a plan tag, and the
# foreachBatch bodies, which pass none, capture the plan of each frame
# they stage through `observe_micro_batch_frame`.  Each is a single
# `is None` check when no capture is active.

_MICRO_BATCH_PLANS: list[tuple[str, str]] | None = None


def start_micro_batch_plan_capture() -> None:
    global _MICRO_BATCH_PLANS
    _MICRO_BATCH_PLANS = []


def stop_micro_batch_plan_capture() -> list[tuple[str, str]]:
    global _MICRO_BATCH_PLANS
    out = _MICRO_BATCH_PLANS if _MICRO_BATCH_PLANS is not None else []
    _MICRO_BATCH_PLANS = None
    return out


def capture_active() -> bool:
    return _MICRO_BATCH_PLANS is not None


def observe_micro_batch_plan(tag: str, plan: str) -> None:
    """Record a streaming plan string under `tag` (no-op unless a
    capture is active)."""
    if _MICRO_BATCH_PLANS is not None:
        _MICRO_BATCH_PLANS.append((tag, plan))


def observe_micro_batch_frame(tag: str, df: DataFrame) -> None:
    """Record the physical plan of a frame a foreachBatch body is
    about to execute (no-op unless a capture is active)."""
    if _MICRO_BATCH_PLANS is not None:
        _MICRO_BATCH_PLANS.append(
            (tag, df._jdf.queryExecution().executedPlan().toString())
        )


def physical_section(explain_internal: str) -> str:
    """The `== Physical Plan ==` section of an explainInternal dump
    (explainInternal(extended=True) prepends parsed/analyzed/optimized
    logical plans, which would false-positive node-name greps)."""
    marker = "== Physical Plan =="
    idx = explain_internal.rfind(marker)
    return explain_internal[idx + len(marker) :] if idx >= 0 else explain_internal


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets each file scan actually reads (pruning check).

    Parsed from the `FileScan <format> [col#1,col#2,...]` output list
    (the ReadSchema struct is truncated by plan toString); covers
    parquet, csv, and json scans."""
    plan = executed_plan(df)
    out = []
    for m in re.findall(r"FileScan \w+ \[([^\]]*)\]", plan):
        cols = {c.strip().split("#")[0] for c in m.split(",") if c.strip()}
        out.append(cols)
    return out
