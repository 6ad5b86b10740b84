"""Small, dependency-free statistics used by the benchmark.

Kept separate from the workloads so the benchmark's own tests can pin
the arithmetic (tail percentile choice, backlog-growth detection,
spread) without starting Spark.
"""

from __future__ import annotations

import math
import statistics

# A tail is the highest percentile with at least this many samples
# beyond it, so it is never decided by a handful of samples.
TAIL_MIN_BEYOND = 10
# Stream latency samples are result rows, and the rows of one micro-batch
# arrive together: at the 10k/s reference a batch holds about 5% of the
# rows, so p99 sat inside the single slowest batch (its spread over ten
# seeds reached 0.24), while p90 leaves about two batches beyond it.
TAIL_MAX_PCT = 90.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n: int) -> float:
    """The highest percentile (to 0.1, at most TAIL_MAX_PCT) with at least
    TAIL_MIN_BEYOND of ``n`` samples beyond it; the median when ``n`` is
    too small for any tail."""
    if n < 2 * TAIL_MIN_BEYOND:
        return 50.0
    p = math.floor(1000.0 * (1.0 - TAIL_MIN_BEYOND / n)) / 10.0
    return min(TAIL_MAX_PCT, p)


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail of ``values``."""
    n = len(values)
    p = tail_percentile(n)
    return percentile(values, p), p, n


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlog_grows(times, floors, rate: float, frac: float = 0.1) -> bool | None:
    """True when the backlog left right after each micro-batch (its
    sawtooth floor) climbs by more than ``frac`` of the input rate, i.e.
    the program drains less than ``1 - frac`` of what arrives.  Floors
    sampled at the same phase of every batch do not see the sawtooth
    itself; two samples are enough for a slope, and with fewer the
    answer is None (undetermined)."""
    if len(times) < 2:
        return None
    return slope(times, floors) > frac * rate


def spread(values) -> float:
    """Inter-quartile range over the median, as statistics.quantiles
    (n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def median(values) -> float:
    return float(statistics.median(values))
