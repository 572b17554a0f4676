"""Batch sessionization — gap-based session assignment over event logs.

The classic two-window composition (no UDF, fully SQL-portable):
1. per key, ordered by time: ``new_session = (ts - lag(ts)) > gap``
2. running sum of the flag → dense per-key session index

Both windows share the same (partition, order) spec, so Catalyst plans a
single shuffle + sort; at 100 TB this is one exchange on the session key
(user), which is the lower bound for any per-user computation.

Gap comparison happens at native timestamp precision (microseconds via
``timestamp_diff``), not whole seconds — a 1800.5 s gap with
``gap_seconds=1800`` correctly opens a new session. ``timestamp_diff``
accepts both TIMESTAMP and TIMESTAMP_NTZ inputs (parquet written with
isAdjustedToUTC=false arrives as NTZ under Spark's default
inferTimestampNTZ) and is timezone-independent, unlike ``unix_micros``
which rejects NTZ outright. ``order_by`` adds deterministic tie-break
columns so equal-timestamp rows order stably (required for
bit-identical cross-engine output).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    gap_seconds: float = 1800,
    out: str = "session_idx",
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Attach a dense 0-based session index per key group."""
    order_cols = [F.col(ts_col)] + [F.col(c) for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap_us = int(gap_seconds * 1_000_000)
    new_session = F.when(
        prev_ts.isNull()
        | (F.timestamp_diff("MICROSECOND", prev_ts, F.col(ts_col)) > gap_us),
        1,
    ).otherwise(0)
    running = Window.partitionBy(*keys).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, F.sum(new_session).over(running) - 1)


def session_stats(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    gap_seconds: float = 1800,
    value_col: str | None = None,
    order_by: Sequence[str] = (),
    exact_cents: bool = False,
) -> DataFrame:
    """Per-session rollup: bounds, event count, optional value sum.

    ``exact_cents=True`` sums ``value_col`` as integer cents
    (``floor(v*100 + 0.5)`` per row, BIGINT accumulate, divide by 100 at
    the end) — bit-stable across engines and partial-aggregation orders,
    unlike a float sum whose addend order Spark does not guarantee.
    """
    s = sessionize(df, ts_col, keys, gap_seconds, order_by=order_by)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        if exact_cents:
            cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
            aggs.append((F.sum(cents) / F.lit(100.0)).alias("total_value"))
        else:
            aggs.append(F.sum(value_col).alias("total_value"))
    return s.groupBy(*keys, "session_idx").agg(*aggs)
