"""Metric arithmetic over a harness record: percentiles, interval unions,
span self times, and attribution of listener events to ops."""
import bisect
import statistics


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99.9, 99, 95, 90)):
    """The highest percentile with at least ten samples beyond it, or
    None when there are too few samples for any."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= 10 - 1e-9:
            return q
    return None


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] pairs."""
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


def clip(intervals, lo, hi):
    """Intervals intersected with [lo, hi], empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans):
    """Span id -> self time (ms): its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        a, b = sp["start_ms"], sp["end_ms"]
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(sp["id"], [])]
        out[sp["id"]] = (b - a) - union_length(clip(kids, a, b))
    return out


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles gives them."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def quartile_spread(values):
    """(q3 - q1) / median, the run-to-run spread a bound is checked on."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def attribute(ops, stamps):
    """Map each timestamp (epoch ms) to the index in `ops` of the op whose
    interval holds it; None when it falls between ops. `ops` must be in
    time order."""
    starts = [o["t0_ms"] for o in ops]
    out = []
    for t in stamps:
        i = bisect.bisect_right(starts, t) - 1
        out.append(i if i >= 0 and t <= ops[i]["t1_ms"] else None)
    return out
