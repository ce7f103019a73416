"""Small statistics and span helpers shared by the runner and the compare
tool."""
import math
import statistics


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """(q3 - q1) / median, with the quartiles `statistics.quantiles`
    gives for n=4."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(failed, attempted):
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi]; overlaps count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
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
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start and
    end; returns {id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(
            kids, s["start"], s["end"])
    return out
