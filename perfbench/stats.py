"""Summary statistics and the trace reconciliation rule.

Pure Python so the benchmark's own tests run without Spark.
"""

from __future__ import annotations

import math
import statistics

# a traced run's per-op layers must add up to its wall time within this
# share, and its ops plus tracing bookkeeping must cover the measured window
RECONCILE_TOLERANCE = 0.05


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def low_quartile(xs: list[float]) -> float:
    """First quartile (``statistics.quantiles``, exclusive method). Host
    contention only ever adds CPU to an op, so across repeats of one op the
    low quartile is its cost with the least interference, and it moves less
    from run to run than the median: over five runs of 15-27 serve queries
    its range was 1.5-5% of its value, the median's 5-8%."""
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=4)[0])


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile that
    has at least ``beyond`` samples above it.

    With n samples that is rank n - beyond, i.e. percentile
    100 * (n - beyond) / n: p95 needs 200 samples, p90 needs 100. When
    fewer than 2 * beyond samples exist the rule lands at or below the
    median, so the maximum (p100) is reported instead."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    n = len(s)
    rank = n - beyond
    if rank <= n / 2:
        return 100.0, float(s[-1])
    return 100.0 * rank / n, float(s[rank - 1])


def interval_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def reconcile_error(wall: float, parts: list[float]) -> float:
    """Relative gap between a wall time and the sum of its parts."""
    if wall <= 0:
        return 0.0 if not any(parts) else math.inf
    return abs(wall - sum(parts)) / wall
