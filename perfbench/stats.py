"""Percentiles of benchmark samples."""

from __future__ import annotations


def pct(values, q: float) -> float:
    """The ``q``-th percentile by linear interpolation between closest
    ranks (numpy's default); 0.0 for no samples."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
