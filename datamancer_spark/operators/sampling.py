"""Deterministic dataset splitting and sampling utilities.

``hash_split`` assigns rows to named splits by portable md5 hash of a key
— the reproducible train/test split every data pipeline needs: stable
across runs, engines, partitionings, and cluster sizes (unlike
``rand()``-based splits, which depend on partition layout). Oracle-
replicable because the hash is the same md5-prefix construction used by
the dedup operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash32


def split_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets): hash32(key) % buckets.
    DuckDB twin: CAST('0x'||substr(md5(key),1,8) AS BIGINT) % buckets."""
    return hash32(key.cast("string")) % F.lit(buckets)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    out: str = "split",
) -> DataFrame:
    """Attach a split label ('train'/'test'/...) per row, by cumulative
    fraction thresholds over the stable bucket. Fractions must sum to 1."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = split_bucket(F.col(key_col), 1_000_000)
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        threshold = int(round(acc * 1_000_000))
        cond = bucket < threshold
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # numeric edge: everything lands below the final threshold, but keep a
    # fallback to the last split name for bucket == buckets-1 rounding
    last = list(fractions)[-1]
    return df.withColumn(out, expr.otherwise(F.lit(last)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its stable
    bucket falls under the stratum's fraction — the reproducible
    ``sampleBy`` (same key always in/out, engine-portable, no RNG)."""
    bucket = split_bucket(F.col(key_col), 1_000_000)
    thr = F.lit(int(round(default_fraction * 1_000_000)))
    expr = thr
    for stratum, frac in fractions.items():
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * 1_000_000)))
        ).otherwise(expr)
    return df.filter(bucket < expr)


def winsorize(
    df: DataFrame,
    col: str,
    keys: list[str] | None = None,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    out: str | None = None,
) -> DataFrame:
    """Clip ``col`` to its [lo_q, hi_q] quantiles (per group when ``keys``
    given) — the standard outlier-taming step before training-statistics.
    Keyed: exact percentiles via a window aggregate (one shuffle on the
    keys). Keyless: percentiles via a global agg broadcast back with a
    1-row cross join — a keyless window would collapse the whole dataset
    onto one reducer."""
    from pyspark.sql import Window

    if keys:
        w = Window.partitionBy(*keys)
        lo = F.percentile(F.col(col), F.lit(lo_q)).over(w)
        hi = F.percentile(F.col(col), F.lit(hi_q)).over(w)
        return df.withColumn(out or col, F.least(F.greatest(F.col(col), lo), hi))
    bounds = df.agg(
        F.percentile(F.col(col), F.lit(lo_q)).alias("_lo"),
        F.percentile(F.col(col), F.lit(hi_q)).alias("_hi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out or col,
            F.least(F.greatest(F.col(col), F.col("_lo")), F.col("_hi")),
        )
        .drop("_lo", "_hi")
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    max_rows: int,
    id_col: str,
    seed: int = 0,
    out: str | None = None,
) -> DataFrame:
    """Deterministic per-key row cap — the "domain capping" curation
    step (keep at most N docs per source/host so over-crawled domains
    can't dominate the mixture).

    Rows within a key are ranked by the portable md5 order of
    (seed, id) — a stable, engine-reproducible shuffle — and rows ranked
    past ``max_rows`` are dropped. One hash-partitioned window per key
    (no global sort); at 100 TB the shuffle is the unavoidable one-pass
    group-by-key, and AQE skew-split handles mega-domains. ``out``
    optionally keeps the 1-based rank column for auditability.

    DuckDB twin: row_number() OVER (PARTITION BY key ORDER BY
    md5(seed || '_' || id), id) <= max_rows.
    """
    if max_rows < 1:
        raise ValueError(f"cap_per_key: max_rows must be >= 1, got {max_rows}")
    from pyspark.sql import Window

    order_key = F.md5(
        F.concat(F.lit(f"{seed}_"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(key_col).orderBy(order_key, F.col(id_col))
    ranked = df.withColumn("_cap_rn", F.row_number().over(w))
    kept = ranked.filter(F.col("_cap_rn") <= max_rows)
    if out:
        return kept.withColumnRenamed("_cap_rn", out)
    return kept.drop("_cap_rn")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — k rows (per
    group, if ``group_cols``) drawn with probability proportional to
    ``weight_col``, reproducible across runs/engines/partitionings.

    Uses the Efraimidis–Spirakis exponential-priority scheme (A-ES, as
    in reservoir weighted sampling): each row gets priority
    −ln(u)/w with u a deterministic md5-uniform of (seed, id); the k
    SMALLEST priorities are exactly a weight-proportional sample without
    replacement. Rows with NULL or non-positive weight are excluded.

    Scale shape: one keyed window (or a global TakeOrdered top-k when
    ungrouped — never a global sort of the corpus). No RNG state: the
    'randomness' is the md5 stream, so resuming/retrying a 100 TB job
    cannot double-sample rows.

    DuckDB twin: row_number() OVER (PARTITION BY g ORDER BY
    -ln((CAST('0x'||substr(md5(seed||'_'||id),1,8) AS BIGINT)+1)/4294967297.0)
    / w, id) <= k."""
    if k < 1:
        raise ValueError(f"weighted_sample: k must be >= 1, got {k}")
    from pyspark.sql import Window

    u = (
        hash32(F.concat(F.lit(f"{seed}_"), F.col(id_col).cast("string")))
        + F.lit(1)
    ) / F.lit(4294967297.0)  # (h+1)/(2^32+1) ∈ (0, 1)
    pri = -F.log(u) / F.col(weight_col)
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_pri", pri)
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.col("_pri"), F.col(id_col)
        )
        return (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_pri", "_rn")
        )
    # ungrouped: top-k by smallest priority → TakeOrderedAndProject,
    # no single-partition window
    return (
        base.orderBy(F.col("_pri"), F.col(id_col)).limit(k).drop("_pri")
    )
