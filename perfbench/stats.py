"""Order statistics shared by the workloads."""

from __future__ import annotations


def percentile(values, q: float) -> float:
    """The ``q``-th percentile by linear interpolation between order
    statistics (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
