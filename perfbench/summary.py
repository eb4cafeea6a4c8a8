"""Small statistics used by the benchmark: medians with their sample
count and a tail percentile, and interval unions."""

from __future__ import annotations

import statistics

#: percentiles considered for the tail report, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)

#: a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def timing_summary(values: list[float]) -> dict:
    """Median plus the highest tail percentile that has at least
    ``MIN_BEYOND`` samples beyond it, with the sample count.

    With fewer than ``MIN_BEYOND`` samples above the median no tail
    percentile is reported (``tail_p`` is None)."""
    n = len(values)
    if n == 0:
        raise ValueError("timing summary of an empty sample")
    out = {"n": n, "median": float(statistics.median(values)),
           "tail_p": None, "tail": None}
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            out["tail_p"] = p
            out["tail"] = percentile(values, p)
            break
    return out


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (each ``(start, end)``),
    optionally clipped to ``[lo, hi]``. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
