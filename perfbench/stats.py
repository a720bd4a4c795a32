"""Small pure helpers: order statistics, result hashing, metric names."""

from __future__ import annotations

import datetime
import hashlib
import math
import re

import numpy as np
import pandas as pd

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}: want [A-Za-z0-9_.-], at most 64")
    return name


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest of TAIL_CANDIDATES that leaves at least ``min_beyond`` of
    ``n`` samples beyond it, or None when even the median does not."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def _norm(v: object) -> object:
    if v is None or pd.isna(v) is True:  # None, NaN, NaT, pd.NA
        return None
    if isinstance(v, (float, np.floating)):
        return round(float(v), 6)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, np.datetime64)):
        ts = pd.Timestamp(v)
        return (ts.tz_convert(None) if ts.tzinfo else ts).isoformat()
    return v if isinstance(v, str) else str(v)


def result_hash(df) -> str:
    """Order-insensitive hash of a pandas result: sorted column names,
    then the sorted per-row value tuples (floats rounded to 6 places,
    integer widths unified, NaN and None the same)."""
    cols = sorted(df.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row)) for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()[:16]
