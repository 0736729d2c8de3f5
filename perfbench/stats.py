"""Sample statistics and span arithmetic for the graft benchmark."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3), as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, beyond=10):
    """The sample at the highest percentile that still has `beyond`
    samples above it: (value, percentile, sample count). With too few
    samples for that, the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def union_length(intervals, lo, hi):
    """Total length of the union of (start, end) intervals, clipped to
    [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
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
    """Self time of each span: its duration minus the union of its
    children's intervals (children may run in parallel). `spans` are dicts
    with id, parent, start_ns, end_ns. Returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def layer_of(name):
    """Span name -> layer: the text before any ':' (the per-item suffix)."""
    return name.split(":", 1)[0]
