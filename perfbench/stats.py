"""Small statistics used by the benchmark: medians, the tail rule, interval
unions and span self time."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """The tail rule: the highest percentile with at least ten samples beyond
    it. Returns (value, percentile, sample count). With fewer than 21
    samples no percentile above the median qualifies, and the median is
    reported as the tail (percentile 50).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    k = n - 10  # samples at or below the tail value; ten lie beyond it
    if k <= n / 2:
        return median(xs), 50.0, n
    return xs[k - 1], math.floor(1000.0 * k / n) / 10.0, n


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
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


def busy_and_gap(wall, intervals):
    """(busy, gap): busy is the union of job intervals clipped to [0, wall];
    the driver gap is wall minus busy, so it is never negative."""
    busy = union_length((max(0.0, s), min(wall, e)) for s, e in intervals)
    return busy, wall - busy


def self_times(spans):
    """Self time per span id: its duration minus the part of it covered by
    its direct children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length((max(s["start"], a), min(s["end"], b))
                               for a, b in children.get(s["id"], []))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]
