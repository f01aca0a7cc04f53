"""Summary statistics the benchmark reports."""

from __future__ import annotations


TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the value
    is the one at rank ``n - beyond`` (1-based), so exactly ``beyond``
    samples lie beyond it. With fewer than ``2 * beyond`` samples no rank
    above the middle has that many beyond it; the rank then stays at
    ``n // 2 + 1``, the first above the lower half.
    """
    if not samples:
        raise ValueError("tail of an empty sample")
    ordered = sorted(samples)
    n = len(ordered)
    rank = max(n - beyond, n // 2 + 1)
    return ordered[rank - 1], 100.0 * rank / n, n
