"""Pure statistics of the benchmark: percentiles, interval unions, span
self time and driver-only time. run.py applies them to the raw samples and
traces the Scala harness writes."""

import math
import statistics

# Percentiles the tail is chosen from, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank, and how many samples lie above it."""
    n = len(sorted_values)
    rank = max(1, math.ceil(round(p * n / 100.0, 9)))
    return sorted_values[rank - 1], n - rank


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); None when no percentile qualifies."""
    xs = sorted(values)
    for p in TAIL_PERCENTILES:
        value, beyond = nearest_rank(xs, p)
        if beyond >= TAIL_MIN_BEYOND:
            return p, value, len(xs)
    return None


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    merged = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [tuple(m) for m in merged]


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def covered(interval, others):
    """Length of `interval` that the union of `others` covers."""
    lo, hi = interval
    return sum(max(0, min(hi, e) - max(lo, s)) for s, e in union(others))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def driver_only(span, jobs):
    """Span wall time during which no Spark job ran: its duration minus
    the union of its job intervals."""
    return self_time(span, jobs)
