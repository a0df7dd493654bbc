"""The benchmark's own arithmetic: order statistics, span self time, metric
names and ratios. Pure functions, covered by tests/test_stats.py.
"""
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def valid_name(name):
    """Metric names: letters, digits, `_`, `.`, `-`; a letter or digit first."""
    return bool(NAME_RE.fullmatch(name))


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them; one
    sample is its own quartiles."""
    if len(xs) == 1:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def nearest_rank(xs, pct):
    s = sorted(xs)
    k = max(1, -(-len(s) * pct // 100))  # ceil(n * pct / 100), at least 1
    return s[int(k) - 1]


def tail_percentile(xs, beyond=10):
    """The highest of TAIL_PERCENTILES that has at least `beyond` samples
    above it, as (percentile, value); None when even the median lacks them.
    """
    best = None
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n - int(-(-n * p // 100)) >= beyond:
            best = (p, nearest_rank(xs, p))
    return best


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}; children
    are clipped to the parent and overlapping children count once.
    `spans` are dicts with id, parent, start_s and end_s."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_s"], s["end_s"]
        covered = union_length(
            [(max(a, c["start_s"]), min(b, c["end_s"]))
             for c in kids.get(s["id"], []) if c["end_s"] > a and c["start_s"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def ratio(num, den):
    """A ratio with its base: {"value", "num", "den"}; value None at den 0."""
    return {"value": (num / den) if den else None, "num": num, "den": den}
