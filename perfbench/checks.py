"""Result comparison shared by every workload.

Both sides of a comparison go through pandas, so nullable integers coerce
to float64 the same way on each side.  Each cell is then normalised:
pandas/NumPy scalars become Python values, NaN/NaT become ``None``, dates
become midnight datetimes, and floats keep 10 significant digits, which
absorbs summation-order noise between engines but not a wrong value.
Rows are compared as a sorted multiset over sorted column names, so row
order and column order never matter.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math

import numpy as np
import pandas as pd


def median(values) -> float:
    """Median, or 0.0 for no samples (a layer the workload never crossed)."""
    v = sorted(values)
    if not v:
        return 0.0
    mid = len(v) // 2
    return float(v[mid]) if len(v) % 2 else (v[mid - 1] + v[mid]) / 2.0


def geomean(values) -> float:
    """Geometric mean of the positive values, or 0.0 for none."""
    v = [x for x in values if x > 0]
    return math.exp(sum(math.log(x) for x in v) / len(v)) if v else 0.0


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(f"{v:.10g}") + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.to_pydatetime().replace(tzinfo=None)
    if v is pd.NaT:
        return None
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_value(x)) for k, x in v.items()))
    if isinstance(v, int) and not isinstance(v, bool):
        return float(v)  # int/float columns agree once both are nullable
    return v


def norm_rows(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Sorted column names and the sorted ``repr`` of every normalised row."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(norm_value(v) for v in r))
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return norm_rows(got) == norm_rows(want)


def result_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of the normalised values."""
    cols, rows = norm_rows(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:32]
