"""Pure statistics helpers shared by the workloads and the steadiness
report.  No Spark here, so the unit tests run without a JVM."""

from __future__ import annotations

import math
import statistics

# A tail percentile must have at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (0 <= p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the p-th percentile
    rank: the tail's own sample count."""
    return n - math.ceil(round(n * p / 100.0, 9))


def tail_percentile(n: int) -> float:
    """Highest percentile with ``MIN_BEYOND`` of ``n`` samples beyond it."""
    if n < 2 * MIN_BEYOND:
        raise ValueError(f"{n} samples support no tail above the median")
    return 100.0 * (n - MIN_BEYOND) / n


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and the quartile distance as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else math.inf}
