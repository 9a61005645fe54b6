"""Pure helpers shared by the A/B and spread scripts: quartile spread
and the paired-comparison rule. No I/O here, so it is unit-tested in
test_stats.py."""
import statistics


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them;
    a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (0 when the median is 0)."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else 0.0


def worse_by(parent, change, better):
    """How much worse the change's value is than the parent's, as a
    share of the parent's (negative when it is better)."""
    if parent == 0:
        return 0.0
    d = (change - parent) / abs(parent)
    return d if better == "lower" else -d


def verdict(parent, change, better, bound):
    """Judge paired runs of parent and change for one metric.

    `parent[i]` and `change[i]` are the two sides of pair i. A gain
    needs the change to win at least nine tenths of all pairs (ties win
    for neither) and the medians to differ by more than the parent's
    own interquartile range. Otherwise a median worse than the parent's
    by more than `bound` is a regression, and a spread (of either side)
    wider than the bound leaves the metric unresolved, unless every
    change run is better than every parent run."""
    assert len(parent) == len(change) and parent, "need matched pairs"
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    row = {"parent_median": pm, "change_median": cm, "wins": wins,
           "pairs": len(parent), "parent_spread": spread(parent),
           "change_spread": spread(change),
           "worse_by": worse_by(pm, cm, better)}
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1) and sign * (cm - pm) > 0:
        row["verdict"] = "gain"
    elif row["worse_by"] > bound:
        row["verdict"] = "regression"
    elif max(row["parent_spread"], row["change_spread"]) > bound and not all_better:
        row["verdict"] = "unresolved"
    else:
        row["verdict"] = "no change"
    return row
