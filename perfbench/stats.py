"""Arithmetic the benchmark reports: nearest-rank percentiles, interval
unions, span self time and scheduler busy ratio."""

import math

# A percentile stands on at least this many samples beyond it; run.py warns
# when a run holds fewer.
MIN_BEYOND = 10


def nearest_rank(values, p):
    """The p-th percentile by the nearest-rank rule: the smallest value with
    at least p% of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def has_tail(n, p, min_beyond=MIN_BEYOND):
    """True when n samples leave at least `min_beyond` beyond percentile p."""
    return n > 0 and beyond(n, p) >= min_beyond


def min_samples(p, min_beyond=MIN_BEYOND):
    """The fewest samples for which percentile p has `min_beyond` beyond it."""
    n = 1
    while not has_tail(n, p, min_beyond):
        n += 1
    return n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover.
    `span` and each child are (start, end); children are clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def busy_ratio(task_run_ms, job_walls_ms, cores):
    """Task run time over the time the jobs held the scheduler times its cores."""
    capacity = sum(job_walls_ms) * cores
    return task_run_ms / capacity if capacity > 0 else 0.0
