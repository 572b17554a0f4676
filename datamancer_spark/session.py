"""SparkSession bootstrap for datamancer_spark.

Defaults are tuned for correctness-reproducibility (UTC, ANSI off to match
the reference's permissive semantics) and scale (AQE on, skew-join handling
on). On a real cluster the same config applies; only ``master`` and the
shuffle-partition count change (set ``spark.sql.shuffle.partitions`` to
~2-3x total cores, or leave AQE's coalescing to shrink it).

Reference: Datamancer is a single-process eager library with no session
concept (``/root/reference/src/datamancer/dataframe.nim``); this module is
the Spark-first replacement for "just import and go".
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# Session-settable at runtime. Applied defensively to externally-created
# sessions (e.g. the verification driver's) so engine queries behave
# identically regardless of who built the SparkSession: without
# nanosAsLong a vanilla session cannot even read TIMESTAMP(NANOS)
# parquet, and a non-UTC timezone would skew every timestamp comparison
# against the DuckDB oracle.
_RUNTIME_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps across Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Reference semantics are permissive (promote, never fail): keep ANSI
    # off so casts return NULL instead of raising, matching Datamancer's
    # promote-on-conflict model (SURVEY.md §1.3).
    "spark.sql.ansi.enabled": "false",
    # Broadcast threshold: generous — dimension tables (region/nation/
    # customer/supplier/part at TPC-H ratios) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Spark has no nanosecond timestamp type; read TIMESTAMP(NANOS) parquet
    # columns as long (ns since epoch) and convert at the API layer
    # (io.load_tables) to microsecond timestamps — DuckDB's precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_DEFAULTS: dict[str, str] = {
    **_RUNTIME_DEFAULTS,
    # Headless default: the UI's AppStatusListener retains state for every
    # job/stage, and over a long batch session (the bench runs ~1000 AQE
    # jobs) its bookkeeping measurably inflates per-job latency on tiny
    # stages. No interactive UI exists in this environment; override via
    # extra_conf for debugging. Builder-time only (static conf).
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def _default_driver_mem_bytes() -> int:
    """Driver heap default: 32 GiB, capped at half of the host's
    MemTotal so the JVM never asks for more than the machine has."""
    cap = 32 << 30
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(cap, int(line.split()[1]) * 1024 // 2)
    except OSError:
        pass
    return cap


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Idempotently apply the engine's runtime-settable defaults to an
    existing session (no-op for sessions built by get_spark).

    Confs that cannot be set at runtime (static on this build) are
    logged with their current value instead of silently skipped, so a
    divergent external session is diagnosable from the logs."""
    for k, v in _RUNTIME_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build — builder-only
            current = None
            try:
                current = spark.conf.get(k, None)
            except Exception:
                pass
            if current != v:
                logging.getLogger(__name__).warning(
                    "datamancer_spark: could not apply session default %s=%s "
                    "(static conf; current value: %s)",
                    k, v, current,
                )
    return spark


def materialize(df, eager: bool = True):
    """Cut lineage on an intermediate the plan reuses (self-join legs,
    iterative updates): reliable ``checkpoint()`` when a checkpoint dir
    is configured, else executor-local ``localCheckpoint()``.

    ``localCheckpoint`` pins blocks to executor storage — fastest, and
    right for single-node/bench runs, but on a real cluster a lost
    executor kills the job because the blocks are unrecoverable. For
    fault-tolerant 100 TB runs call ``set_checkpoint_dir(spark, path)``
    (HDFS/S3) once per session and every engine materialization point
    upgrades to reliable storage automatically."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def set_checkpoint_dir(spark: SparkSession, path: str) -> None:
    """Opt into reliable (recomputable-after-executor-loss) checkpoints
    for all engine materialization points. Pass an HDFS/S3/shared path on
    a cluster; a local path only makes sense on local[n]."""
    spark.sparkContext.setCheckpointDir(path)


def get_spark(
    app_name: str = "datamancer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one entry point. On a cluster,
    pass ``master=None`` with a pre-configured spark-submit and only the
    engine defaults are layered on.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    # local[n] runs executors inside the driver JVM, whose DEFAULT heap is
    # 1g — 32 concurrent tasks on 1g spills/OOMs long before the machine's
    # RAM matters. Builder-time only (ignored for already-running JVMs).
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{_default_driver_mem_bytes() >> 20}m"
    )
    builder = builder.config("spark.driver.memory", driver_mem).config(
        "spark.driver.maxResultSize", "4g"
    )
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
