"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it.
"""

from __future__ import annotations

import statistics

# percentiles a tail figure may be reported at, lowest first
TAIL_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(n_samples: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile in ``TAIL_PERCENTILES`` with at least
    ``min_beyond`` of ``n_samples`` above it, or None when even the
    median has fewer (fewer than ``2 * min_beyond`` samples)."""
    best = None
    for p in TAIL_PERCENTILES:
        # integer arithmetic: p is a multiple of 0.1, so scale by 10
        beyond = n_samples * (1000 - round(p * 10)) // 1000
        if beyond >= min_beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * round(p * 10) // 1000))
    return float(ordered[rank - 1])
