"""Engine-independent result comparison for the per-op correctness checks.

A result is reduced to a sorted list of rows, each row a tuple of
canonical cell tokens over the columns in name order, so Spark, DuckDB
and pyarrow outputs compare equal when they hold the same rows: integral
numbers print as integers, other floats and decimals by their shortest
float repr, midnight timestamps as dates, NULL/NaN/NaT as one token.

Two numbers that differ only where the engines may legitimately differ
still match: by a relative 1e-9 (double sums in another order), or by
one cent between two values rounded to cents (``ROUND(x, 2)`` of a
double at a tie: Spark rounds its decimal text half-up, DuckDB its
binary value, so ``round(41 / 40, 2)`` is 1.03 in one and 1.02 in the
other).
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import numpy as np
import pandas as pd

NULL = "∅"


def canon(v) -> str:
    """Canonical token for one cell value."""
    if v is None:
        return NULL
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return NULL
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return repr(f)
    if isinstance(v, datetime.datetime):
        if v is pd.NaT:
            return NULL
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if v is pd.NA:
        return NULL
    return str(v)


def rows_of(pdf) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """(sorted column names, sorted canonical rows) of a pandas frame."""
    cols = tuple(sorted(pdf.columns))
    data = [[canon(v) for v in pdf[c].tolist()] for c in cols]
    rows = sorted(zip(*data)) if cols else []
    return cols, rows


def _number(token: str) -> float | None:
    try:
        return float(token)
    except ValueError:
        return None


def _cents(x: float) -> bool:
    return abs(x * 100 - round(x * 100)) < 1e-6


def cells_match(a: str, b: str) -> bool:
    """Two canonical tokens hold the same value, up to the engine
    differences named in the module docstring."""
    if a == b:
        return True
    x, y = _number(a), _number(b)
    if x is None or y is None:
        return False
    if abs(x - y) <= 1e-9 * max(abs(x), abs(y)):
        return True
    return _cents(x) and _cents(y) and abs(x - y) <= 0.01 + 1e-9


def mismatch(got, want) -> str | None:
    """None when the two canonical results match, else why not."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {list(gc)} != {list(wc)}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b and not all(map(cells_match, a, b)):
            return f"first differing row {a} != {b}"
    return None
