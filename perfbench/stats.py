"""Summary statistics of the benchmark's samples."""
import math

# Percentiles op_tail_s may report, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(n, min_beyond=10):
    """The highest percentile on LADDER that leaves at least
    `min_beyond` of `n` samples above its nearest-rank position;
    the median when none does."""
    best = 50
    for p in LADDER:
        if n - math.ceil(p * n / 100) >= min_beyond:
            best = p
    return best


def nearest_rank(xs, p):
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p * len(s) / 100))
    return s[k - 1]
