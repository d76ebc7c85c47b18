"""Summary statistics and the row comparator (pure Python, no Spark)."""

from __future__ import annotations

import math
import statistics
from decimal import Decimal

# The smallest tail a reported percentile may rest on.
TAIL_SAMPLES = 10


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def highest_percentile(n: int, tail: int = TAIL_SAMPLES) -> int | None:
    """The highest whole percentile p with at least ``tail`` of ``n``
    samples strictly beyond it, i.e. n * (100 - p) / 100 >= tail; None
    when n is too small for any."""
    if n < tail + 1:
        return None
    p = math.floor(100 * (n - tail) / n)
    while p > 0 and n * (100 - p) < tail * 100:
        p -= 1
    return p if p > 0 else None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    out = {"n": len(values), "median": med, "q1": q1, "q3": q3}
    p = highest_percentile(len(values))
    out["p_tail"] = p
    out["p_tail_value"] = None if p is None else percentile(values, p)
    return out


def ratio(num: float, base: float) -> float:
    return num / base if base else 0.0


# ---------------------------------------------------------------------------
# Row comparator for oracle checks
# ---------------------------------------------------------------------------

NAN = ("nan",)   # sign-free: every NaN compares equal to every NaN and to
                 # nothing else (in particular not to +inf or -inf)


def canon_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return NAN
        # bit-level identity: -0.0 and 0.0 are different values
        return ("f", v, math.copysign(1.0, v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("b", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return ("d",) + tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    return v


def canon_rows(rows) -> list:
    """Rows (tuples, Spark Rows or lists) → sorted multiset of canonical
    tuples."""
    return sorted((tuple(canon_value(v) for v in r) for r in rows), key=repr)
