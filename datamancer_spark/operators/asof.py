"""As-of join — an operator the reference lacks (SURVEY.md §2.4:
"No ... range, as-of ... joins") and Spark has no native keyword for;
composed from existing DataFrame ops per the engine's operator policy
(composition first, Pandas UDF second, mapPartitions last).

As-of join (backward): for each left row, the latest right row with
``right.ts <= left.ts`` within the same key.

Plan: union both sides tagged, one window sort per key over the merged
stream, ``last(right_value, ignorenulls)`` carries the most recent right
row forward onto left rows — O((L+R) log) per key partition, one shuffle
on the key, never an L×R product. This is the standard distributed as-of
formulation (mirrors what time-series stores do per shard).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] = (),
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """Backward/forward as-of join.

    ``on``: ordering column (same name both sides, orderable).
    ``by``: equi-key columns (same names both sides).
    Right-side payload columns arrive suffixed; left rows with no earlier
    (or later, for ``direction='forward'``) right row get NULLs.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = list(by)
    payload = [c for c in right.columns if c != on and c not in by]
    lcols = [c for c in left.columns]

    l_tag = left.withColumn("_side", F.lit(1))
    # Payload carried as ONE struct: the whole right ROW propagates
    # atomically (per-column carries would skip legitimate NULL values
    # and could stitch fields from different right rows), and a struct of
    # NULL fields is itself non-null, so last(ignorenulls) only skips the
    # left rows' missing struct, never a right row's NULL payload.
    r_tag = right.select(
        *by,
        F.col(on),
        F.struct(*[F.col(c) for c in payload]).alias("_rpay"),
    ).withColumn("_side", F.lit(0))
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # Within each key, order by (ts, side): side 0 (right) sorts before
    # side 1 (left) at equal ts so ties are inclusive (right row at the
    # same instant is visible to the left row).
    order = (
        [F.col(on).asc(), F.col("_side").asc()]
        if direction == "backward"
        else [F.col(on).desc(), F.col("_side").asc()]
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = merged.withColumn("_carried", F.last(F.col("_rpay"), ignorenulls=True).over(w))
    return out.filter(F.col("_side") == 1).select(
        *lcols,
        *[F.col(f"_carried.{c}").alias(f"{c}{suffix}") for c in payload],
    )
