"""Order statistics for latency samples.

A latency is reported as its median plus the highest percentile that still
has at least ten samples beyond it, so a tail figure always rests on ten or
more observations. Percentiles use the nearest-rank definition.
"""
import math

BEYOND = 10


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(xs, p):
    """The nearest-rank p-th percentile: the smallest sample with at least
    p% of all samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n, beyond=BEYOND):
    """The highest whole percentile whose nearest-rank value has at least
    `beyond` of `n` samples above it, or None when n is too small."""
    if n < beyond + 1:
        return None
    p = math.floor(100 * (n - beyond) / n)
    # floor keeps ceil(p * n / 100) <= n - beyond
    while p > 0 and n - math.ceil(p / 100 * n) < beyond:
        p -= 1
    return p if p > 50 else None


def latency_summary(xs):
    """{n, p50, tail_pct, tail} for a list of latency samples; tail_pct and
    tail are None when the sample supports no percentile above the median."""
    p = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": median(xs),
        "tail_pct": p,
        "tail": nearest_rank(xs, p) if p is not None else None,
    }
