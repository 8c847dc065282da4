"""Percentile, spread and span helpers shared by run.py and steady.py."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile of `values`.

    Refuses to report a percentile with fewer than MIN_BEYOND samples
    above it: a p95 needs at least 200 samples, a p90 100, a median 20.
    """
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p:g} of {n} samples has {n - rank} beyond it; "
                         f"need at least {MIN_BEYOND}")
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4, the exclusive method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def self_times(spans):
    """Self time per span: its duration minus the part of it covered by its
    direct children (children are clipped to the parent's interval).

    `spans` are dicts with id, parent, start_ns, end_ns. Returns
    {id: self seconds}.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_ns([(max(c["start_ns"], s["start_ns"]),
                             min(c["end_ns"], s["end_ns"]))
                            for c in kids.get(s["id"], [])])
        out[s["id"]] = max(0, s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def union_ns(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
