"""Arithmetic and sampling shared by the benchmark runner and its tests.

Everything here is pure Python over plain lists and dicts, so it can be
tested without a JVM: percentiles and quartiles, span self time, and the
seeded query sampler.
"""
import math
import random
import statistics

# Candidate tail percentiles, highest first. A tail is only reported at a
# level that leaves at least TAIL_BEYOND samples above it, so it is never a
# single outlier.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank: the value at rank ceil(p/100 n)."""
    n = len(sorted_values)
    k = max(1, math.ceil(p / 100.0 * n))
    return k, sorted_values[k - 1]


def tail(values):
    """(label, value, n) for the highest ladder percentile with at least
    TAIL_BEYOND samples beyond it. With too few samples for even the
    median to qualify, the maximum is returned and labelled as such."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in TAIL_LADDER:
        k, v = nearest_rank(s, p)
        if n - k >= TAIL_BEYOND:
            return ("p%g" % p, v, n)
    return ("max", s[-1], n)


def quartiles(values):
    """First quartile, median and third quartile (statistics.quantiles with
    n=4, exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(interval, children):
    """Length of `interval` covered by the union of `children` intervals
    (each clipped to `interval`). Overlapping children count once."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Self time of every span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start and end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered((s["start"], s["end"]), kids.get(s["id"], []))
            for s in spans}


def layer_self_times(spans):
    """Self time summed per layer name, in the units of the span times."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def sample_queries(catalog, seed, per_family):
    """Seeded, family-stratified query sample in a seeded order.

    `catalog` is a list of {"name", "family"} dicts. Each family gives
    min(per_family, its size) queries, so every family is covered; the
    same seed always gives the same sample in the same order."""
    rng = random.Random(seed)
    families = {}
    for q in catalog:
        families.setdefault(q["family"], []).append(q["name"])
    picked = []
    for fam in sorted(families):
        names = sorted(families[fam])
        picked += rng.sample(names, min(per_family, len(names)))
    rng.shuffle(picked)
    return picked


def seeded_order(names, seed):
    """The names in an order that depends only on the seed."""
    out = sorted(names)
    random.Random(seed).shuffle(out)
    return out
