"""Order statistics and span arithmetic shared by the metrics and the tests."""
import math


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def mean(values):
    xs = list(values)
    if not xs:
        raise ValueError("mean of an empty sample")
    return sum(xs) / len(xs)


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(n, beyond=10):
    """Highest whole percentile of an n-sample that still has at least
    `beyond` samples above it (nearest rank), or None when n <= beyond."""
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    # the nearest rank of p leaves n - ceil(p n / 100) samples above it
    while p > 0 and n - math.ceil(p * n / 100.0) < beyond:
        p -= 1
    return p or None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    first clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children's spans cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)
