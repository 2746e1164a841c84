"""Order statistics used by every workload's report."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that still has at
    least ``beyond`` samples above it.

    With ``n`` samples sorted ascending, rank ``r`` (1-based) sits at the
    ``100 * r / n`` percentile and has ``n - r`` samples beyond it, so the
    highest qualifying rank is ``n - beyond``. Fewer than ``beyond + 1``
    samples leave no such rank; then the median is returned at percentile
    50, so the caller always prints a value with its true percentile.
    """
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = n - beyond
    if rank < 1 or 100.0 * rank / n < 50.0:
        return median(values), 50.0, n
    return float(ordered[rank - 1]), 100.0 * rank / n, n

