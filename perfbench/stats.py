"""Percentile, span and metric-name arithmetic used by run.py."""

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MAX_END_TO_END, MAX_PER_LAYER = 16, 128
LADDER = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(values, beyond=10):
    """(p, value) for the highest percentile on LADDER that leaves at
    least ``beyond`` samples above it; None when even the median does
    not."""
    n = len(values)
    best = None
    for p in LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            best = (p, percentile(values, p))
    return best


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted
    once."""
    total, cur_s, cur_e = 0, None, None
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
    """The span's length minus the union of its children's intervals,
    each clipped to the span."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return (e0 - s0) - union_length(clipped)


def validate_names(end_to_end, per_layer):
    """Raise ValueError unless every metric name is well formed and
    unique, with at most 16 end-to-end and 128 per-layer names."""
    if len(end_to_end) > MAX_END_TO_END:
        raise ValueError("%d end-to-end metrics, at most %d"
                         % (len(end_to_end), MAX_END_TO_END))
    if len(per_layer) > MAX_PER_LAYER:
        raise ValueError("%d per-layer metrics, at most %d"
                         % (len(per_layer), MAX_PER_LAYER))
    seen = set()
    for name in list(end_to_end) + list(per_layer):
        if not NAME_RE.match(name):
            raise ValueError("bad metric name %r" % name)
        if name in seen:
            raise ValueError("metric name %r used twice" % name)
        seen.add(name)
