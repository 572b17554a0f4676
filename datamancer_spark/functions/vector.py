"""Vector functions over `array<float>` embedding columns.

Pure Catalyst higher-order functions (``aggregate``/``zip_with``/
``transform``) — JVM-evaluated per row, no Python, no UDF serialization.
At 100 TB these run inside whole-stage codegen next to the parquet scan.

DuckDB oracle twins: ``list_dot_product`` / ``list_cosine_similarity``
(verified available in DuckDB 1.0).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (fold in doubles, left-to-right —
    same association order as a sequential loop, so bit-stable vs DuckDB
    up to float→double promotion)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize once upstream so downstream cosine = dot — halves
    the per-pair cost in brute-force similarity scans."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)
