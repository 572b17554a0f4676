"""Plan inspection utilities — the engine's "did Catalyst do what we
designed for?" toolkit. Used by tests to assert scale-critical plan
properties (filter pushdown, column pruning, broadcast joins, partial
aggregation) instead of hoping for them; the same checks are what you'd
run against .explain("formatted") on a real cluster before a 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def has_partition_filter(df: DataFrame, fragment: str | None = None) -> bool:
    """True if the scan prunes partitions (PartitionFilters non-empty).
    At 100 TB, a date filter that doesn't appear here scans every
    partition directory."""
    plan = executed_plan(df)
    marker = "PartitionFilters: ["
    for seg in plan.split(marker)[1:]:
        inner = seg.split("]", 1)[0]
        if inner.strip() and (fragment is None or fragment in inner):
            return True
    return False


def has_pushed_filter(df: DataFrame, fragment: str | None = None) -> bool:
    """True if the scan carries pushed filters (optionally matching a
    column-name fragment). A filter that did NOT reach the parquet scan
    reads every row-group at 100 TB."""
    plan = executed_plan(df)
    if "PushedFilters: []" in plan and "PushedFilters: [" not in plan.replace(
        "PushedFilters: []", ""
    ):
        return False
    marker = "PushedFilters: ["
    for seg in plan.split(marker)[1:]:
        inner = seg.split("]", 1)[0]
        if inner.strip() and (fragment is None or fragment in inner):
            return True
    return False


def scan_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the (first) parquet scan — verifies
    column pruning (ReadSchema)."""
    plan = executed_plan(df)
    if "ReadSchema: struct<" not in plan:
        return []
    seg = plan.split("ReadSchema: struct<", 1)[1].split(">", 1)[0]
    return [c.split(":")[0] for c in seg.split(",") if c]


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the executed plan — the scale currency.
    Compare against the budgeted count for an operator before sign-off."""
    return executed_plan(df).count("Exchange")


def has_partial_aggregation(df: DataFrame) -> bool:
    """Hash aggregation with a map-side partial phase (two HashAggregate
    nodes around the exchange)."""
    return executed_plan(df).count("HashAggregate") >= 2
