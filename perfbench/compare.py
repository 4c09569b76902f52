"""Order-insensitive result comparison, vectorised.

The rules are those of ``tests/test_oracle.py`` (``_normalize`` and
``_row_eq``): column names compare case-insensitively, rows compare as a
multiset, floats are rounded to six decimals and then compared as
``math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)`` does. That row-by-row
comparator checks q_pivot_longer_order's 360k rows in about 7 s, which
made the output checks of a verbs run 11-12 s; this one takes 1 s for them
and 5 s for the whole run.
"""

from __future__ import annotations

import decimal
import math

import numpy as np
import pandas as pd


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (float, np.floating)):
        return round(float(v), 6)
    if isinstance(v, np.integer):
        return int(v)
    if hasattr(v, "isoformat"):
        return str(pd.Timestamp(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _canon(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s):
        return s.astype(object).where(s.notna(), None)
    if pd.api.types.is_float_dtype(s):
        return s.astype("float64").round(6)
    if pd.api.types.is_integer_dtype(s):
        return s.astype("float64") if s.isna().any() else s.astype("int64")
    if pd.api.types.is_datetime64_any_dtype(s):
        return s.dt.tz_localize(None).astype("datetime64[us]") if s.dt.tz is not None else s.astype("datetime64[us]")
    if pd.api.types.infer_dtype(s, skipna=True) == "string":
        return s.astype(object).where(s.notna(), None)
    out = pd.Series([_cell(v) for v in s], index=s.index, dtype=object)
    numeric = out.dropna()
    if len(numeric) and all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in numeric):
        return out.astype("float64").round(6)
    return out


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    try:
        return df.sort_values(list(df.columns), kind="mergesort", na_position="last").reset_index(drop=True)
    except TypeError:  # values of mixed types: order by their text instead
        keys = pd.DataFrame({c: df[c].astype(str) for c in df.columns}, index=df.index)
        return df.loc[keys.sort_values(list(keys.columns), kind="mergesort").index].reset_index(drop=True)


def _col_equal(a: pd.Series, b: pd.Series) -> np.ndarray:
    na, nb = a.isna().to_numpy(), b.isna().to_numpy()
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
        x, y = a.to_numpy("float64"), b.to_numpy("float64")
        with np.errstate(invalid="ignore"):
            # math.isclose: symmetric in x and y
            close = np.abs(x - y) <= np.maximum(1e-9 * np.maximum(np.abs(x), np.abs(y)), 1e-6)
        return close | (na & nb)
    if pd.api.types.is_datetime64_any_dtype(a) and pd.api.types.is_datetime64_any_dtype(b):
        return (a.to_numpy() == b.to_numpy()) | (na & nb)
    return np.array([x == y or (x is None and y is None) for x, y in zip(a.astype(object), b.astype(object))])


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the two frames hold the same rows, else the reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    g_cols = {c.lower(): c for c in got.columns}
    w_cols = {c.lower(): c for c in want.columns}
    if sorted(g_cols) != sorted(w_cols):
        return f"columns {sorted(g_cols)} != expected {sorted(w_cols)}"
    names = sorted(g_cols)
    g = pd.DataFrame({n: _canon(got[g_cols[n]]) for n in names})
    w = pd.DataFrame({n: _canon(want[w_cols[n]]) for n in names})
    for n in names:
        # a side that reads back as int where the other has floats compares as floats
        if pd.api.types.is_numeric_dtype(g[n]) != pd.api.types.is_numeric_dtype(w[n]):
            try:
                g[n], w[n] = g[n].astype("float64").round(6), w[n].astype("float64").round(6)
            except (TypeError, ValueError):
                pass
        elif pd.api.types.is_numeric_dtype(g[n]) and g[n].dtype != w[n].dtype:
            g[n], w[n] = g[n].astype("float64"), w[n].astype("float64")
    g, w = _sorted(g), _sorted(w)
    for n in names:
        bad = ~_col_equal(g[n], w[n])
        if bad.any():
            i = int(np.argmax(bad))
            return f"{int(bad.sum())} rows differ in column {n!r}; first: {g[n].iloc[i]!r} != {w[n].iloc[i]!r}"
    return None
