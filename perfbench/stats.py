"""Pure reductions over the raw samples the JVM harness writes: percentiles
with the tail rule, span self time, and per-pass counter roll-ups."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def tail_rank(n, want=90, beyond=10):
    """The percentile to report for a tail of ``n`` samples: ``want`` if at
    least ``beyond`` samples lie above it, else the highest percentile that
    has ``beyond`` above it, and never below the median."""
    if n <= 0:
        return 50
    p = math.floor(100 * (1 - beyond / n))
    return max(50, min(want, p))


def median(values):
    return statistics.median(values)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """{span id: own duration minus the time covered by its children},
    children clipped to the parent's interval. Durations in span units."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_of(name):
    return name.split(".", 1)[0]


def subtree(spans, root_id):
    """Spans under ``root_id`` (inclusive)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        if i in by_id:
            out.append(by_id[i])
        todo.extend(c["id"] for c in kids.get(i, []))
    return out


def rollup(spans, root_id, key):
    """Sum of counter ``key`` over the subtree of ``root_id``."""
    return sum(s["counters"].get(key, 0) for s in subtree(spans, root_id))
