"""Order-insensitive comparison of a registry row's result with its DuckDB
``oracle_sql`` twin over the same generated parquet tables."""

from __future__ import annotations

import math

import pandas as pd

#: relative tolerance for float columns. Spark and DuckDB add doubles in
#: different orders, so a sum can differ in its last bits, and a ``round``
#: on top of it can then land one unit apart at a half-way point.
REL_TOL = 1e-6


def _float_col(a: pd.Series, b: pd.Series) -> bool:
    return pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b)


def _cells(col: pd.Series, as_float: bool) -> list:
    if str(col.dtype).startswith("datetime64"):
        col = pd.to_datetime(col)
        if col.dt.tz is not None:
            col = col.dt.tz_localize(None)
        return col.astype("datetime64[us]").astype(str).tolist()
    if as_float:
        return [None if pd.isna(v) else float(v)
                for v in pd.to_numeric(col, errors="coerce").astype("float64")]
    return [None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)
            for v in col]


def _rows(df: pd.DataFrame, floats: set[str]) -> list[tuple]:
    cols = sorted(df.columns)
    data = [_cells(df[c], c in floats) for c in cols]
    # order by the exact columns, then by floats at 6 significant digits
    def key(r):
        return tuple(
            ("", "") if v is None else
            ("f", f"{v:.5e}") if c in floats else ("s", v)
            for c, v in zip(cols, r)
        )
    return sorted(zip(*data), key=key) if cols else []


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12) or (
            math.isinf(a) and a == b)
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows (floats within
    :data:`REL_TOL`), else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} vs {len(want)} rows"
    floats = {c for c in got.columns if _float_col(got[c], want[c])}
    for i, (r, s) in enumerate(zip(_rows(got, floats), _rows(want, floats))):
        if not all(_close(a, b) for a, b in zip(r, s)):
            return f"row {i} differs: {r} vs {s}"
    return None
