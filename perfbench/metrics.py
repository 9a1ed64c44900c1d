"""Arithmetic of the benchmark: percentiles, interval unions, self time
and open-loop latency. Pure functions over numbers, so that they can be
unit-tested apart from the program being measured (tests/test_metrics.py).

Times are in microseconds unless a name says otherwise.
"""

import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def quantile(values, q):
    """Linear-interpolated quantile, `q` in [0, 1]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n, q):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (1.0 - q) >= 10 - 1e-9


def percentile_or_none(values, q):
    return quantile(values, q) if reportable(len(values), q) else None


def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1][1] = e
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def intersection_length(a, b):
    """Length of (union of a) ∩ (union of b)."""
    ua, ub = union(a), union(b)
    i = j = 0
    total = 0
    while i < len(ua) and j < len(ub):
        s = max(ua[i][0], ub[j][0])
        e = min(ua[i][1], ub[j][1])
        if e > s:
            total += e - s
        if ua[i][1] < ub[j][1]:
            i += 1
        else:
            j += 1
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - length(clip(children, s, e))


def driver_gap(wall, jobs):
    """Wall time not covered by any job: driver-side work and waiting."""
    s, e = wall
    return (e - s) - length(clip(jobs, s, e))


def open_loop_latency(due, seen):
    """Open-loop latency runs from when a request was due, so a stalled
    generator's delay counts against the requests it held back."""
    return seen - due


def lateness(due, sent):
    """How late the generator handed a request over."""
    return max(0, sent - due)


def account(wall, jobs, kernels, store):
    """Split one request's wall into kernel, Spark (job time outside the
    kernels), store (driver-side store calls outside jobs) and the rest.
    The four parts add up to the wall."""
    s, e = wall
    jobs = clip(jobs, s, e)
    kernels = clip(kernels, s, e)
    store = clip(store, s, e)
    job_len = length(jobs)
    kernel = length(kernels)
    spark = job_len - intersection_length(jobs, kernels)
    store_self = length(store) - intersection_length(store, jobs)
    kernel_outside_jobs = kernel - intersection_length(kernels, jobs)
    rest = (e - s) - job_len - store_self - kernel_outside_jobs
    return {"wall": e - s, "kernel": kernel, "spark": spark,
            "store": store_self, "unaccounted": rest,
            "gap": (e - s) - job_len}
