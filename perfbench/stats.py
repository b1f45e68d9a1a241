"""Summary statistics shared by the benchmark runner and its diff mode."""

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank p-th percentile of xs, or None when fewer than ten
    samples lie beyond it (the tail is then not measured, only guessed)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < TAIL_MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def tail(xs, ladder=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """The highest percentile of `ladder` with at least ten samples beyond
    it, as (p, value); None when even the median lacks them."""
    for p in ladder:
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None
