"""Mergeable one-pass sketches — the full family as of r15:
distinct = HyperLogLog, frequency = count-min, distribution =
fixed-bin histogram, rank/quantile = the hash-threshold Bernoulli
rank sketch (each section documents its own design). All four are
PORTABLE (sketches are DataFrames built from the repo's md5 hash
conventions, so another engine rebuilds them bit for bit) and all
four merge across snapshots with merge == rebuild pinned in their
driver gates.

Spark's native ``approx_count_distinct`` is an HLL too, but its
registers are engine-private: they can't be persisted as data, merged
across snapshots as a DataFrame, or differentially verified against
another engine. ``hll_build`` keeps the registers as a (register,
rank) frame built from the repo's portable md5 hash, so cross-crawl
cardinality rolls up with a plain union+max and a DuckDB twin rebuilds
every register bit for bit. CMS answers the OTHER streaming question —
"roughly how often does THIS value occur?" — in fixed memory. A CMS is a ``depth × width``
counter matrix: each value increments one counter per row (an
independent hash per row); a point estimate is the MIN over rows,
which always over-counts (collisions only add), with error ≤ εN at
width ≈ e/ε with probability 1−(1/2)^depth.

Spark-first shape: the corpus reduces to DISTINCT-value counts first
(one corpus-sized shuffle — the aggregation every frequency question
pays anyway), then each distinct value explodes into ``depth``
(row, col, n) contributions and a vocabulary-sized groupBy sums the
counters — the sketch is a tiny DataFrame (≤ depth·width rows), so it
broadcasts, persists as parquet, and MERGES with plain union+sum
(counter matrices are linear). Hashes are the repo's portable
md5-derived convention, so a DuckDB twin replicates the sketch — and
the estimates — bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash, spread_partitions


def _cms_col(value: Column, row: int, width: int) -> Column:
    """Counter column for ``value`` in sketch row ``row``: the portable
    60-bit md5 hash under seed ``cms{row}``, mod width. DuckDB twin:
    CAST('0x' || substr(md5('cms{row}' || v), 1, 15) AS BIGINT) % w."""
    return portable_hash(value, seed=f"cms{row}") % width


def cms_build(
    df: DataFrame,
    value_col: str = "value",
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (row, col, n) with one entry per OCCUPIED
    counter (absent counter == 0). ``weight_col``: optional
    pre-aggregated multiplicities (skip when ``df`` is one row per
    occurrence). NULL values are excluded — a NULL has no frequency
    identity (count it upstream if you need the null rate)."""
    vals = spread_partitions(df).filter(F.col(value_col).isNotNull())
    if weight_col is None:
        counts = vals.groupBy(value_col).agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
    else:
        counts = vals.groupBy(value_col).agg(
            F.sum(weight_col).cast("long").alias("_n")
        )
    entries = counts.select(
        F.posexplode(
            F.array(
                *[
                    _cms_col(F.col(value_col), r, width)
                    for r in range(depth)
                ]
            )
        ).alias("row", "col"),
        F.col("_n"),
    )
    return entries.groupBy("row", "col").agg(
        F.sum("_n").cast("long").alias("n")
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the SAME (width, depth): counter
    matrices are linear, so union + sum. The distributed-ingest shape:
    each partition/day/shard builds its own sketch, merges roll up."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str = "value",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point estimates for every value in ``queries``: min over the
    depth rows of the matching counters — always ≥ the true count
    (collisions only ADD), the CMS one-sided error contract. The
    sketch side is ≤ depth·width rows, so the join broadcasts; a
    counter row missing from the sketch means 0 (only possible for
    values never inserted). Output: (value, est: long)."""
    probes = queries.select(
        F.col(value_col),
        F.posexplode(
            F.array(
                *[
                    _cms_col(F.col(value_col), r, width)
                    for r in range(depth)
                ]
            )
        ).alias("row", "col"),
    )
    joined = probes.join(F.broadcast(sketch), ["row", "col"], "left")
    return (
        joined.groupBy(value_col)
        .agg(
            F.min(F.coalesce(F.col("n"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


# -- portable HyperLogLog (r11) -----------------------------------------------


def hll_build(
    df: DataFrame, value_col: str = "value", p: int = 8
) -> DataFrame:
    """HLL register frame over ``value_col``: (register, rank), at most
    ``2**p`` rows. The portable 60-bit md5 hash splits into the low
    ``p`` bits (register index) and the remaining ``60-p`` bits ``w``;
    rank = leading zeros of ``w`` in its ``60-p``-bit window, plus one
    (``(61-p) - bitlen(w)``, capped at ``61-p`` for w=0 — ``bin()``
    returns the minimal binary string in BOTH Spark and DuckDB, so
    bitlen is ``length(bin(w))`` identically). Register update is MAX,
    so duplicates are free: no distinct pass needed — ONE vocabulary-
    keyed shuffle with map-side partial max, linear at any scale.
    NULLs are excluded (no cardinality identity)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p={p} out of range [4, 16]")
    m = 1 << p
    cap = 61 - p
    h = portable_hash(F.col(value_col), seed="hll")
    w = F.shiftright(h, p)
    rank = F.when(w > 0, F.lit(cap) - F.length(F.bin(w))).otherwise(
        F.lit(cap)
    )
    return (
        spread_partitions(df)
        .filter(F.col(value_col).isNotNull())
        .select((h % m).alias("register"), rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").cast("int").alias("rank"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two register frames built with the SAME ``p``: HLL
    registers combine with MAX, so union + groupBy-max — the same
    roll-up shape as ``cms_merge``. Cross-snapshot distinct counts
    without ever recounting: persist each crawl's registers, merge,
    estimate."""
    return (
        a.unionByName(b)
        .groupBy("register")
        .agg(F.max("rank").cast("int").alias("rank"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """One-row (est double) cardinality estimate from a register frame.

    The harmonic sum is computed in EXACT integer arithmetic so it is
    engine- and order-independent: each register contributes
    ``2^(cap - rank)`` (a bigint; absent registers rank 0 contribute
    ``2^cap``), so the scaled sum S is exact and the standard estimator
    ``E = alpha_m · m² · 2^cap / S`` is ONE deterministic float
    division. Small-range correction (E ≤ 2.5m with empty registers →
    linear counting ``m·ln(m/V)``) matches the published algorithm;
    the 60-bit hash space never needs the large-range arm. With p=8
    the standard error is ~1.04/√256 ≈ 6.5%."""
    m = 1 << p
    cap = 61 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = registers.agg(
        (
            # empty register frame (empty corpus): sum is NULL -> 0,
            # every register counts as empty -> linear counting gives 0
            F.coalesce(
                F.sum(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), {cap} - rank)")
                ),
                F.lit(0).cast("long"),
            )
            + (F.lit(m) - F.count(F.lit(1)))
            * F.lit(1 << cap).cast("long")
        ).alias("s"),
        (F.lit(m) - F.count(F.lit(1))).cast("long").alias("v"),
    )
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << cap))
        / F.col("s")
    )
    return agg.select(
        F.when(
            (raw <= 2.5 * m) & (F.col("v") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
        )
        .otherwise(raw)
        .alias("est")
    )


# -- fixed-bin histogram sketch ----------------------------------------------
# The third mergeable sketch next to HLL (how many distinct?) and CMS
# (how often does THIS occur?): the HISTOGRAM answers "how is the value
# DISTRIBUTED?" — quantiles, drift between snapshots, SLA tails. Like
# CMS it is linear (counter vectors add), so per-snapshot histograms
# merge with union+sum and merge == rebuild exactly; unlike Spark's
# approx_percentile sketch its state is a plain (bin, n) DataFrame that
# persists as parquet and re-verifies in any engine. Fixed equal-width
# bins trade adaptivity for exact mergeability — the right trade when
# the domain is known (scores, latencies, prices); at 100 TB the build
# is one scan + one ≤(n_bins+2)-row groupBy, map-side-combined to
# almost nothing before the shuffle.


def _hist_bin(value_col: str, lo: float, hi: float, n_bins: int):
    """THE bin-assignment expression — one definition, shared by the
    grouped and ungrouped builders, because the 'exact same assignment
    any engine reproduces' guarantee only holds if there is exactly one
    copy of this arithmetic to keep in sync with the twins: bin -1
    catches v < lo, bin ``n_bins`` catches v >= hi (half-open like
    every bin), plain IEEE floor((v-lo)/(hi-lo)*n) in between."""
    v = F.col(value_col).cast("double")
    raw = F.floor(
        (v - F.lit(float(lo)))
        / (F.lit(float(hi)) - F.lit(float(lo)))
        * F.lit(int(n_bins))
    ).cast("long")
    b = (
        F.when(v < lo, F.lit(-1).cast("long"))
        .when(v >= hi, F.lit(int(n_bins)).cast("long"))
        .otherwise(F.least(raw, F.lit(int(n_bins) - 1)))
    )
    return v, b


def hist_build(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """(bin, n) over equal-width bins of [lo, hi) — exactly
    ``hist_build_by`` with no group columns; NULLs are skipped. NaN
    values are NOT null and route to the overflow bin (bin = n_bins):
    Spark orders NaN above every real number, so ``NaN >= hi`` — the
    same verdict DuckDB reaches, which is what keeps the twin
    hash-stable (ADVICE r14: documented, deliberately not filtered —
    a NaN burst IS a data-quality event the overflow bin should
    surface, not silently drop)."""
    return hist_build_by(df, value_col, [], lo, hi, n_bins)


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Union + per-(group, bin) sum — histograms are linear, so merging
    K snapshot sketches equals rebuilding over the unioned data. Group
    columns are derived from the sketch schema (everything except the
    count column ``n``), so ``hist_build_by`` outputs merge per group
    instead of silently collapsing all groups into one histogram
    (ADVICE r14); plain ``hist_build`` outputs reduce to the original
    groupBy("bin")."""
    it = iter(sketches)
    out = next(it)
    key_cols = [c for c in out.columns if c != "n"]
    if "bin" not in key_cols:
        raise ValueError(
            f"hist_merge: expected a histogram sketch with a 'bin' "
            f"column, got {out.columns}"
        )
    for s in it:
        out = out.unionByName(s)
    return out.groupBy(*key_cols).agg(
        F.sum("n").cast("long").alias("n")
    )


def hist_cdf(hist: DataFrame) -> DataFrame:
    """Annotate a (bin, n) histogram with cumulative counts and the
    cumulative fraction — the quantile-reading surface (the p-quantile
    lives in the first bin whose cum fraction reaches p). The window
    runs over the ≤(n_bins+2)-row sketch, not the corpus."""
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = Window.partitionBy()
    return hist.select(
        "bin",
        "n",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        (F.sum("n").over(w) / F.sum("n").over(total)).alias("cum_frac"),
    )


def hist_build_by(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Per-group fixed-bin histograms: (group_cols..., bin, n) — one
    scan, one groupBy over (groups x bins) rows. The grouped form of
    ``hist_build`` for per-language / per-source / per-shard
    distribution monitoring. NULLs are skipped; NaNs land in the
    overflow bin (see ``hist_build`` — Spark and DuckDB both order
    NaN >= hi)."""
    if not hi > lo:
        raise ValueError(f"hist_build_by: need hi > lo, got [{lo}, {hi})")
    v, b = _hist_bin(value_col, lo, hi, n_bins)
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def hist_drift(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Per-group TOTAL VARIATION DISTANCE between two ``hist_build_by``
    outputs — the distribution-drift monitor between corpus snapshots
    (training-mix shift, a source going bad, a filter regressing).
    TVD = max event-probability difference = 1/2 * sum |p_a - p_b|,
    computed here as an EXACT integer numerator
    sum |n_a*N_b - n_b*N_a| over 2*N_a*N_b, so no float accumulation
    order exists until the final division — the property that lets a
    differential twin hash-match the drift score. Inputs are
    sketch-sized, so every stage here is tiny regardless of corpus
    size; drift over 100 TB costs the two histogram scans."""
    an = a.select(*group_cols, "bin", F.col("n").alias("_na"))
    bn = b.select(*group_cols, "bin", F.col("n").alias("_nb"))
    j = an.join(bn, [*group_cols, "bin"], "full_outer").select(
        *group_cols,
        "bin",
        F.coalesce(F.col("_na"), F.lit(0)).cast("long").alias("_na"),
        F.coalesce(F.col("_nb"), F.lit(0)).cast("long").alias("_nb"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols)
    tot = j.select(
        *group_cols,
        "bin",
        "_na",
        "_nb",
        F.sum("_na").over(w).cast("long").alias("_ta"),
        F.sum("_nb").over(w).cast("long").alias("_tb"),
    )
    # decimal(38,0) numerator: at 100 TB per-group counts reach ~1e12,
    # so the cross products (~1e24) overflow int64 — Spark wraps
    # silently where DuckDB errors; the twin uses HUGEINT for the same
    # reason. Exact until the single final division.
    dec = "decimal(38,0)"
    num = F.abs(
        F.col("_na").cast(dec) * F.col("_tb").cast(dec)
        - F.col("_nb").cast(dec) * F.col("_ta").cast(dec)
    )
    return (
        tot.groupBy(*group_cols)
        .agg(
            F.max("_ta").cast("long").alias("n_a"),
            F.max("_tb").cast("long").alias("n_b"),
            F.sum(num).alias("_num"),
        )
        .select(
            *group_cols,
            "n_a",
            "n_b",
            # a group present in only ONE snapshot is total drift by
            # definition (TVD = 1) — the naive division is by zero
            # there and Spark yields NULL, which a `tvd > threshold`
            # alert filter silently drops: the monitor would miss
            # exactly the disappeared-source case it exists to catch
            F.when(
                (F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(1.0)
            )
            .otherwise(
                F.col("_num").cast("double")
                / (F.lit(2.0) * F.col("n_a") * F.col("n_b"))
            )
            .alias("tvd"),
        )
    )


# -- rank / quantile sketch ---------------------------------------------------
#
# ``hist_build`` needs an a-priori [lo, hi); the rank sketch removes that
# prerequisite for unknown-range columns and completes the mergeable
# sketch family: distinct = HLL, frequency = CMS, distribution =
# histogram, rank = this. Design choice (VERDICT r14 #6 asked for KLL or
# GK): KLL's compaction is a per-buffer coin flip and GK is inherently
# sequential — neither can be rebuilt bit-for-bit by a differential twin
# in another engine, which is the repo's correctness gate. This is
# instead a DETERMINISTIC hash-threshold Bernoulli rank sketch: a row
# enters the sketch iff its portable 60-bit row hash (over the KEY
# columns — never the float value, whose string form is not
# cross-engine stable) falls below 2^(60-rate_exp), i.e. an exact
# p = 2^-rate_exp per-row sample whose membership depends only on the
# row itself. That buys, by construction:
#   - order/partition invariance (no RNG, no scan order);
#   - EXACT mergeability, including across heterogeneous rates — the
#     union downsampled to the coarsest rate IS the sketch of the
#     unioned data, row for row (same self-selection property that
#     makes theta sketches mergeable);
#   - a DuckDB twin that reproduces every sketch row.
# The price is sample size: rank error ~ N/sqrt(m) with m = N·p kept
# rows, so 1% rank error needs m ≈ 1e4 regardless of N, where KLL does
# it in a few hundred. A 1e4-row sketch for a 100 TB column is still
# negligible, and reproducibility is what the gates trade for.
# Reference parity: the reference engine has no sketch surface at all
# (beyond-reference tier, same category as HLL/CMS).


def rank_sketch_build(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    rate_exp: int = 6,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (group_cols..., value, h[, w], rate_exp) — one
    scan, one filter, NO shuffle (the sketch is written where the data
    lives; downstream consumers shuffle the ≤ N·2^-rate_exp surviving
    rows, not the corpus). ``key_cols`` must uniquely identify a row
    (they feed the inclusion hash; duplicates of a key would enter or
    leave the sample together and bias ranks). NULL values are skipped;
    NaN is kept and ranks above every real value (Spark and DuckDB
    agree on NaN-last ordering).

    ``weight_col`` (r15): per-row long weights ride the sketch as
    ``w``, turning rank/quantile estimates WEIGHTED — e.g. doc-length
    quantiles weighted by token count answer "what fraction of TOKENS
    lives in docs shorter than X", the curation question the row
    quantile can't. Inclusion stays Bernoulli-by-key (unbiased:
    E[Σ kept w]/p = true Σw); variance scales with weight dispersion
    (sd ≤ sqrt(2^rate · W · w_max) for the below-threshold mass), the
    documented price of keeping membership deterministic and
    mergeable. NULL-weight rows are skipped like NULL values."""
    if not 0 <= int(rate_exp) <= 59:
        raise ValueError(
            f"rank_sketch_build: rate_exp must be in [0, 59], got {rate_exp}"
        )
    if not key_cols:
        raise ValueError("rank_sketch_build: key_cols must be non-empty")
    from .manifest import row_signature

    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    h = row_signature(*[F.col(k) for k in key_cols], seed="rank")
    d = df.filter(v.isNotNull())
    cols = [*group_cols, v.alias("value"), h.alias("h")]
    if weight_col is not None:
        d = d.filter(F.col(weight_col).isNotNull())
        cols.append(F.col(weight_col).cast("long").alias("w"))
    return (
        d.select(*cols)
        .filter(F.col("h") < F.lit(1 << (60 - int(rate_exp))))
        .withColumn("rate_exp", F.lit(int(rate_exp)).cast("int"))
    )


def rank_sketch_merge(*sketches: DataFrame) -> DataFrame:
    """Union K sketches, downsampling to the COARSEST rate present:
    every kept row re-tests its stored hash against the target
    threshold, so the result equals ``rank_sketch_build`` at that rate
    over the unioned data — exactly, row for row (merge == rebuild is
    pinned in-gate like the other three sketches). The rate scan is a
    whole-frame window over the SKETCH (sketch-sized, not
    corpus-sized)."""
    from pyspark.sql import Window

    it = iter(sketches)
    out = next(it)
    for c in ("value", "h", "rate_exp"):
        if c not in out.columns:
            raise ValueError(
                f"rank_sketch_merge: expected a rank sketch with "
                f"'{c}', got {out.columns}"
            )
    for s in it:
        out = out.unionByName(s)
    # pmod(h, 1) is always 0 but NOT foldable — keeps the partition
    # spec so WindowExec skips its single-partition warning (the
    # key_skew_profile convention); the frame is sketch-sized anyway
    w = Window.partitionBy(F.pmod(F.col("h"), F.lit(1)))
    return (
        out.withColumn("_r", F.max("rate_exp").over(w))
        # SQL shiftleft: the Python wrapper only takes a literal shift
        .filter(F.col("h") < F.expr("shiftleft(CAST(1 AS BIGINT), 60 - _r)"))
        .drop("rate_exp")
        .withColumnRenamed("_r", "rate_exp")
        .select(*[c for c in out.columns])
    )


def rank_sketch_quantiles(
    sketch: DataFrame,
    ps: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Estimated quantiles from the sketch: for each p, the value at
    sample position ceil(p·m) (uniform weights — every kept row stands
    for 2^rate_exp corpus rows, so the p-th sample value estimates the
    p-th corpus value with rank error ~ N/sqrt(m)). All windows run
    over the sketch, never the corpus. Returns
    (group_cols..., p, value_est, m).

    WEIGHTED sketches (built with ``weight_col``, carrying ``w``):
    the p-quantile is the smallest value whose cumulative sample
    weight reaches p · (total sample weight) — ``m`` then reports the
    total sample WEIGHT, not the row count.

    MIXED-RATE sketches (a raw unionByName of different-rate sketches
    that skipped ``rank_sketch_merge``) are handled correctly too
    (review r15): selection runs on each row's EFFECTIVE corpus mass
    (w · 2^rate_exp) rather than raw position, so a rate-2 row counts
    16× a rate-6 row instead of being silently under-represented. For
    uniform-rate sketches the 2^rate factor cancels and the selection
    is exactly the classic ceil(p·m) rule — bit-identical to the
    differential twins."""
    from pyspark.sql import Window

    group_cols = list(group_cols or [])
    spark = sketch.sparkSession
    ps_df = spark.createDataFrame([(float(p),) for p in ps], "p double")
    # ungrouped: partition by the non-foldable constant pmod(h, 1)
    # (always 0) so the sketch-sized window keeps a partition spec
    parts = (
        [F.col(c) for c in group_cols]
        if group_cols
        else [F.pmod(F.col("h"), F.lit(1))]
    )
    w_ord = Window.partitionBy(*parts).orderBy("value", "h")
    w_m = Window.partitionBy(*parts)
    base_w = F.col("w") if "w" in sketch.columns else F.lit(1).cast("long")
    eff = base_w * F.expr("shiftleft(CAST(1 AS BIGINT), rate_exp)")
    ranked = sketch.select(
        *group_cols,
        "value",
        F.sum(eff)
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sel"),
        F.sum(eff).over(w_m).alias("_seltot"),
        # reported m keeps its documented meaning: sample row count
        # (unweighted) / total sample weight (weighted)
        F.sum(base_w).over(w_m).alias("_m"),
    )
    return (
        ranked.join(
            F.broadcast(ps_df),
            F.col("_sel") >= F.col("p") * F.col("_seltot"),
        )
        .groupBy(*group_cols, "p")
        .agg(
            F.min("value").alias("value_est"),
            F.max("_m").cast("long").alias("m"),
        )
    )
