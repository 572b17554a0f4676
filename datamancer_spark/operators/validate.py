"""Declarative data-validation (expectation checks): evaluate a rule
battery against a table in ONE partial-aggregated pass and report
per-rule violation counts — the CI gate a pipeline runs before
promoting a snapshot (Great-Expectations-class checks, relationally).

Scale shape: every boolean rule folds into a conditional count inside a
single ungrouped aggregate over the scan (map-side partials, one row to
the driver). Uniqueness rules need their own groupBy per key set — the
only shuffles, each carrying just the key columns."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_rules(
    df: DataFrame,
    rules: dict[str, Column],
    unique: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Evaluate ``rules`` (name -> boolean Column that should hold for
    every row; NULL counts as a violation) plus optional ``unique``
    (name -> key column list) constraints. Output one row per rule:
    (rule, n_rows, n_violations, pass).

    The boolean battery is one aggregate pass; each uniqueness rule
    adds one groupBy on its keys counting rows beyond the first per
    key."""
    if not rules and not unique:
        raise ValueError("no rules given")
    parts = []
    if rules:
        aggs = [F.count(F.lit(1)).cast("long").alias("_n")] + [
            F.count(F.when(~F.coalesce(cond, F.lit(False)), 1))
            .cast("long")
            .alias(f"_v_{i}")
            for i, cond in enumerate(rules.values())
        ]
        wide = df.agg(*aggs)
        structs = F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col("_n").alias("n_rows"),
                    F.col(f"_v_{i}").alias("n_violations"),
                )
                for i, name in enumerate(rules.keys())
            ]
        )
        parts.append(
            wide.select(F.explode(structs).alias("r")).select("r.*")
        )
    for name, keys in (unique or {}).items():
        grp = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
        parts.append(
            grp.agg(
                F.lit(name).alias("rule"),
                F.sum("_c").cast("long").alias("n_rows"),
                F.sum(F.col("_c") - 1).cast("long").alias("n_violations"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("pass", F.col("n_violations") == 0)
