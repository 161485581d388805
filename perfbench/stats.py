"""Statistics used by run.py and compare.py: percentiles with their
sample-count rule, span self time, and the parent/change pair rule."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank p-quantile (0 < p < 1) of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(p * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-quantile."""
    return n - max(1, math.ceil(p * n))


def resolvable(n, p, need=10):
    """A percentile is reported as resolved only when at least `need`
    samples lie beyond it."""
    return beyond(n, p) >= need


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def self_times(spans):
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover. `spans` is a list of dicts with
    id, parent, start_ns, end_ns; returns {id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a = max(c["start_ns"], s["start_ns"])
            b = min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def verdict(parent, change, better, bound):
    """Pair rule for one metric. `parent` and `change` are lists of run
    values; pairs are taken position by position.

    improved:   the change wins at least 9/10 of the pairs (ties count
                for neither side) and the medians differ by more than the
                parent's own quartile distance;
    worse:      the change's median is worse than the parent's by more
                than `bound` (a share of the parent's median);
    unchanged:  otherwise, when the parent's own spread is within the bound;
    unresolved: otherwise, unless every run of one side reads better than
                every run of the other.
    Returns (verdict, share of pairs won by the change)."""
    n = min(len(parent), len(change))
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    won = wins / n if n else 0.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = sign * (cm - pm)  # > 0: the change is better
    if n and wins >= 0.9 * n and gain > p3 - p1:
        return "improved", won
    if -gain > bound * abs(pm):
        return "worse", won
    if p3 - p1 <= bound * abs(pm):
        return "unchanged", won
    if min(sign * c for c in change) > max(sign * p for p in parent):
        return "improved", won
    if max(sign * c for c in change) < min(sign * p for p in parent):
        return "worse", won
    return "unresolved", won
