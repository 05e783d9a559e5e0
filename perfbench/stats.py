"""Summary statistics of the benchmark's samples."""

from __future__ import annotations

import math

# Percentiles a timing may report beyond its median, lowest first.
PERCENTILES = (90.0, 99.0, 99.9)
# A percentile is reported only with at least this many samples above it.
MIN_TAIL = 10


def median(values) -> float:
    vs = sorted(values)
    if not vs:
        raise ValueError("median of no values")
    mid = len(vs) // 2
    return vs[mid] if len(vs) % 2 else (vs[mid - 1] + vs[mid]) / 2.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    vs = sorted(values)
    if not vs:
        raise ValueError("percentile of no values")
    k = (len(vs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return vs[lo] + (vs[hi] - vs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile in :data:`PERCENTILES` that leaves at least
    :data:`MIN_TAIL` of ``n`` samples beyond it, or None."""
    best = None
    for p in PERCENTILES:
        # Tolerance: (100 - 99.9) is not exact in binary floating point.
        if n * (100.0 - p) / 100.0 >= MIN_TAIL - 1e-6:
            best = p
    return best


def summarize(values) -> dict:
    """Median, sample count and the reportable tail percentile."""
    vs = list(values)
    out = {"value": median(vs), "n": len(vs)}
    p = tail_percentile(len(vs))
    if p is not None:
        out["tail"] = (p, percentile(vs, p))
    return out
