"""Summary statistics used by the benchmark (pure functions)."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it: returns ``(value, percentile, n_samples)``.

    With ``n`` samples sorted ascending, the k-th smallest (1-based)
    has ``n - k`` samples beyond it, so the tail is the
    ``n - TAIL_MIN_BEYOND``-th smallest, read as percentile
    ``100 * k / n``.  With 2 * TAIL_MIN_BEYOND samples or fewer that
    point is at or below the median, which is no tail: the maximum is
    reported instead, as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - TAIL_MIN_BEYOND
    if k <= n / 2:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)

