"""Statistics helpers of the benchmark: percentiles, interval unions and
span self times. Pure functions over plain lists, tested by test_stats.py."""

import math


def median(values):
    """Median of a non-empty list."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return v[mid] if n % 2 else (v[mid - 1] + v[mid]) / 2.0


def geomean(values):
    """Geometric mean of positive values: every call weighs the same,
    whatever its size."""
    if not values:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    pos = (len(v) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """The highest whole percentile of `n` samples that leaves at least
    `beyond` samples above its rank, never below the median. Percentile q
    sits at rank (n - 1) * q / 100, so it leaves n - 1 - floor(rank)
    samples beyond it. With fewer than about 2 * beyond samples that is
    the median itself."""
    if n <= 0:
        raise ValueError("no samples")
    q = math.ceil(100.0 * (n - beyond) / (n - 1)) - 1 if n > beyond else 0
    return max(50, q)


def tail(values, beyond=10):
    """(percentile, value) of the tail_percentile of `values`."""
    q = tail_percentile(len(values), beyond)
    return q, percentile(values, q)


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    out = []
    for a, b in intervals:
        a, b = max(a, start), min(b, end)
        if b > a:
            out.append((a, b))
    return out


def outside(window, intervals):
    """Length of `window` (start, end) not covered by `intervals`."""
    start, end = window
    return (end - start) - union_length(clip(intervals, start, end))


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its child spans cover. `spans` are dicts with id, parent, start and
    end; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: outside((s["start"], s["end"]), children.get(s["id"], []))
            for s in spans}
