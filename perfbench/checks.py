"""Order-insensitive output comparison between engines.

A result is reduced to its lower-cased column names, its row count and
the sorted 64-bit hashes of its canonicalized rows: numbers compare as
float64 rounded to 6 decimals (the twins already round sums to 2 and
ratios to 4 or 6), timestamps as UTC microseconds, lists element-wise,
and NULL/NaN as one value.
"""

from __future__ import annotations

import decimal
import math

import numpy as np
import pandas as pd


def _scalar(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(round(f, 6) + 0.0)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_scalar(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_scalar(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, pd.Timestamp):
        return _scalar(_ts_us(pd.Series([v]))[0])
    return str(v)


def _ts_us(s: pd.Series) -> pd.Series:
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def _column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        return _ts_us(s).astype("float64")
    if s.dtype == object:
        vals = s.dropna()
        if len(vals) and all(
            isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)
            for v in vals
        ):
            s = s.map(lambda v: None if v is None else float(v))
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return s.astype("float64").round(6) + 0.0
    if s.dtype == object and s.isna().all():
        return pd.Series(np.nan, index=s.index)
    return s.map(_scalar).astype(object)


def fingerprint(pdf: pd.DataFrame) -> tuple:
    cols = sorted(pdf.columns, key=str.lower)
    canon = pd.DataFrame(
        {c.lower(): _column(pdf[c].reset_index(drop=True)) for c in cols}
    )
    # NaN/None hash alike once numeric columns are float64
    hashes = pd.util.hash_pandas_object(canon, index=False).to_numpy()
    return tuple(c.lower() for c in cols), len(pdf), np.sort(hashes)


def same(got: tuple, want: tuple) -> bool:
    return (got[0] == want[0] and got[1] == want[1]
            and np.array_equal(got[2], want[2]))
