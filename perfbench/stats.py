"""The benchmark's arithmetic over op samples and spans: percentiles with the
reporting rule, span self time and span coverage.

Times are nanoseconds on the benchmark JVM's monotonic clock; ops and spans
are the dicts `perfbench.Main` writes.
"""
import math

# Tail percentiles tried, highest first.
TAILS = (99.9, 99.0, 90.0)
# A tail percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p % of the
    samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    # Rounded first, so 99.9 % of 10000 is rank 9990, not 9991.
    rank = max(1, math.ceil(round(p * len(s) / 100.0, 9)))
    return s[rank - 1]


def beyond(samples, p):
    """How many samples lie strictly above the p-th percentile."""
    v = percentile(samples, p)
    return sum(1 for x in samples if x > v)


def reportable(samples, p):
    return bool(samples) and beyond(samples, p) >= MIN_BEYOND


def tail(samples):
    """(p, value) of the highest tail percentile with at least MIN_BEYOND
    samples beyond it, or None when even p90 has too few."""
    for p in TAILS:
        if reportable(samples, p):
            return p, percentile(samples, p)
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length of the union of [start, end) intervals, clipped to
    [lo, hi) when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a >= end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans):
    """span id -> self time: its duration minus the part of it covered by
    its direct child spans."""
    kids = children(spans)
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])], s["t0"], s["t1"])
        for s in spans}


def self_time_by_name(spans):
    """name -> {count, total_s, self_s}, summed over spans of that name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += (s["t1"] - s["t0"]) / 1e9
        e["self_s"] += st[s["id"]] / 1e9
    return out


def coverage(spans, op_ids):
    """Share of the given ops' root-span time covered by named layer spans
    (the roots' direct children)."""
    kids = children(spans)
    covered = total = 0
    for s in spans:
        if s["parent"] == 0 and s["op"] in op_ids:
            total += s["t1"] - s["t0"]
            covered += union_length([(c["t0"], c["t1"]) for c in kids.get(s["id"], [])],
                                    s["t0"], s["t1"])
    return covered / total if total else 0.0
