"""Result checks: normalize a result to sorted Python rows with the
repository's oracle normalization (``tests/oracle_harness.py``) and compare
or digest it."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

from tests.oracle_harness import rows_sorted_by_colname


def _py(v):
    """One pandas/NumPy cell as the Python value DuckDB would return."""
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return v.to_pydatetime()
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):  # NumPy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas renders SQL NULL in float columns as NaN
    return v


def pandas_rows(pdf) -> list[tuple]:
    cols = [pdf[c].tolist() for c in pdf.columns]
    return [tuple(_py(v) for v in row) for row in zip(*cols)] if cols else []


def _canon(v):
    """DATE and TIMESTAMP both as datetime (the engines differ in which
    one a DATETIME column comes back as)."""
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime(v.year, v.month, v.day)
    return v


def normalized(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows canonicalized and sorted the way the oracle harness compares
    them (columns ordered by name, then rows sorted)."""
    rows = [tuple(_canon(v) for v in r) for r in rows]
    return rows_sorted_by_colname(list(cols), rows)[0]


def quick_digest(pdf) -> str:
    """Row-order-insensitive digest of a pandas result, far cheaper than
    normalizing it: the sorted per-row hashes plus the column names and
    dtypes. Results with equal quick digests are equal, so a result equal
    to one already checked needs no second check."""
    import numpy as np
    import pandas as pd

    h = hashlib.sha256(repr((list(pdf.columns), [str(t) for t in pdf.dtypes])).encode())
    h.update(np.sort(pd.util.hash_pandas_object(pdf, index=False).values).tobytes())
    return h.hexdigest()


def compare(got: list[tuple], want: list[tuple]) -> str | None:
    """None when two normalized results are equal, else a one-line
    reason. Columns compare by position: both sides are normalized with
    the same column names."""
    if got and want and len(got[0]) != len(want[0]):
        return f"column count {len(got[0])} != {len(want[0])}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (x, y) in enumerate(zip(got, want)):
        if x != y:
            return f"first difference at sorted row {i}: {x} != {y}"
    return None
