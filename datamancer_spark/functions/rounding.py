"""Engine-portable rounding.

Spark's ``round`` is HALF_UP; DuckDB's double ``round`` is half-to-even —
exact halfway values (x.xx5) diverge, which breaks differential value
hashing. ``prnd`` uses ``floor(x·10ⁿ + 0.5)/10ⁿ``: multiply, add, floor —
three IEEE-754 ops every engine executes bit-identically, so Spark and the
DuckDB oracle agree on every input including halfway cases.

SQL twin (use verbatim in oracles): ``floor(x * 1eN + 0.5) / 1eN``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def prnd(col: Column | str, n: int) -> Column:
    if isinstance(col, str):
        col = F.col(col)
    scale = float(10**n)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
