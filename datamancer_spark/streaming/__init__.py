"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.12: no streams, watermarks, or
stateful ops); this module is beyond-reference surface built directly on
Spark Structured Streaming, sharing the batch engine's column functions —
the same Catalyst expressions run unchanged over unbounded input, which
is the point of the Spark-first design (one expression layer, two
execution modes).

Scale notes: watermarks expire window state, so ``tumbling_agg`` keeps
state bounded; ``replay_available_now`` runs a stream to completion so a
gate can check it against the batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
    **aggs,
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of the
    batch ``events_hourly`` query. Late rows beyond the watermark are
    dropped; state for closed windows is freed."""
    exprs = [v.alias(k) for k, v in aggs.items()] or [F.count(F.lit(1)).alias("n")]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *keys)
        .agg(*exprs)
        .select(
            F.col("window.start").alias("bucket"),
            *keys,
            *[k for k in aggs] if aggs else ["n"],
        )
    )


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Parquet file-source stream. Spark's FileStreamSource requires a
    DIRECTORY (or glob) — a bare single-file path fails with "basePath
    must be a directory" because the inferred basePath IS the file. A
    one-character character-class glob (``[e]vents.parquet``) matches
    exactly the same file while forcing glob resolution, so basePath
    becomes the parent directory; works identically for directory
    datasets at scale (pass them through untouched).

    ``options`` (r15): file-source options, notably
    ``maxFilesPerTrigger`` — AvailableNow honors source admission
    limits, so one-file-per-trigger turns a multi-file directory into
    a DETERMINISTIC multi-batch replay (files admitted oldest
    modification time first), which is what lets a gate advance the
    watermark between batches and exercise real late-data drops."""
    import os as _os

    if _os.path.isfile(path):
        d, base = _os.path.split(path)
        path = f"{d}/[{base[0]}]{base[1:]}"
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def replay_available_now(
    result: DataFrame,
    query_name: str,
    timeout_sec: float = 300.0,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming frame to COMPLETION over everything currently
    available (``Trigger.AvailableNow``) into an in-memory sink and
    return the final state as a batch DataFrame — the bounded-replay
    harness that lets the STREAMING tier run under the batch
    differential oracle: for aggregations, the final complete-mode
    state over a fully-replayed source provably equals the batch
    aggregate over the same data (watermarks drop nothing when every
    row is on time relative to the final watermark), so a DuckDB twin
    of the batch form checks the whole streaming path — source,
    watermark plumbing, stateful operator, sink.

    Rerun-safe: an active query with the same name is stopped and the
    memory table is replaced (the driver/harness may invoke a gate
    twice per session). Failures propagate (a silently-empty memory
    table would pass a rows-only check).

    ``output_mode`` (r15): "complete" replays everything into final
    state — watermarks drop nothing there, which is exactly why the
    LATE-DATA path needs "append": emitted rows are only the windows
    the advancing watermark closed, and late rows really are dropped
    before the state update. The memory sink accumulates each batch's
    appended rows, so the returned table is the union of emissions."""
    spark = result.sparkSession
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(int(timeout_sec))
    if q.exception() is not None:
        raise q.exception()
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"streaming replay '{query_name}' still active after "
            f"{timeout_sec}s"
        )
    return spark.table(query_name)
