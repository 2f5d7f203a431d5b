"""Order statistics shared by the runner, the trace reducer and the compare
tool."""
import statistics


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (the exclusive method); a single value is its own quartiles."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no values")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median (0 when the median
    is 0 and the values do not vary)."""
    q1, med, q3 = quartiles(values)
    if med == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / abs(med)


def percentile(values, p):
    """Nearest-rank percentile, p in [0, 100]."""
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = max(1, -(-len(vals) * p // 100))  # ceil(n * p / 100)
    return vals[int(rank) - 1]


def win_fraction(base, change, better):
    """Share of all (base, change) pairs in which the change is better.

    Pairs are formed index by index (run i of one side against run i of
    the other), ties count for neither side, and the denominator is every
    pair run."""
    if len(base) != len(change):
        raise ValueError("both sides need the same number of runs")
    if not base:
        raise ValueError("no runs")
    wins = 0
    for b, c in zip(base, change):
        if (c < b) if better == "lower" else (c > b):
            wins += 1
    return wins / len(base)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    return sum(e - s for s, e in merge(intervals))


def merge(intervals):
    """The union of (start, end) intervals as sorted disjoint intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]
