"""Turns a run record (ops, units, spans, Spark counters) into metrics.

Pure functions only, so the self-tests in perfbench/tests run without
Spark: percentile selection, self time from overlapping spans, and ratios
that always carry their base.
"""
import math
import statistics

# a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values`, or None when the sample is
    too small for it. The median (q = 0.5) is interpolated and needs one
    sample; a tail percentile (q > 0.5) is nearest-rank and needs
    MIN_BEYOND samples beyond it, so a p90 needs at least 100. Failed ops
    enter as +inf: they miss every latency limit."""
    n = len(values)
    if n == 0:
        return None
    xs = sorted(values)
    if q == 0.5:
        v = statistics.median(xs)
    else:
        if n * (1.0 - q) < MIN_BEYOND - 1e-9:
            return None
        v = xs[max(0, math.ceil(q * n) - 1)]
    return None if math.isinf(v) else v


def ratio(num, den):
    """A ratio with its base: {'value': num/den (0 when den is 0), 'base': den}."""
    return {"value": (num / den) if den else 0.0, "base": den}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(a, b)], clipped to [lo, hi]."""
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


def self_times(spans):
    """{span id: self time} where self time is the span's duration minus
    the part of its interval covered by its children (children may overlap
    each other or stick out of the parent)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) -
            union_length(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def innermost(spans, t):
    """The deepest span whose interval holds time t (latest start wins)."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def layer_of(span_name):
    """'ext.filter_new' -> 'ext'; the op's own span ('op.*') is the client."""
    head = span_name.split(".", 1)[0]
    return "client" if head == "op" else head


def fmt(value, unit):
    return {"value": value, "unit": unit}
