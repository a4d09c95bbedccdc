"""Summary statistics and the paired-comparison verdict of the benchmark.

A timing is reported as its median, its quartiles, the highest percentile
with at least ten samples beyond it, and the sample count. Two revisions
are compared by the rules in ``verdict``.
"""
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail_percentile(n):
    """The highest ladder percentile with at least ten of n samples beyond it.

    Below 20 samples no tail percentile qualifies and the median (50) stands in.
    """
    for p in TAIL_LADDER:
        # In tenths of a percent, so that 99.9 is exact.
        if n * (1000 - round(p * 10)) >= MIN_BEYOND * 1000:
            return p
    return 50.0


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs):
    """(percentile, value) of the tail of xs."""
    p = tail_percentile(len(xs))
    return p, percentile(xs, p)


GAIN_SHARE = 0.9


def verdict(parent, change, better, bound):
    """Compares one metric of paired runs of a parent and a change.

    parent and change are equally long lists; entry i of each comes from
    pair i. better is "lower" or "higher"; bound is the share of the
    parent's median by which the change may be worse.

    - "gain": the change wins at least 90% of the pairs (ties count for
      neither side) and the medians differ, in the change's favour, by
      more than the distance between the parent's quartiles.
    - "no regression": the change's median is worse than the parent's by
      at most the bound, and the parent's own spread (quartile distance
      over median) is within the bound; or every change run beats every
      parent run.
    - "unresolved": the parent's spread is wider than the bound, so a
      regression within it could not be seen.
    - "regression": otherwise.
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change runs")
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain_by = sign * (cm - pm)
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    detail = {"wins": wins, "losses": losses, "ties": len(parent) - wins - losses,
              "parent_median": pm, "change_median": cm, "parent_iqr": p3 - p1,
              "parent_spread": spread}
    if wins >= GAIN_SHARE * len(parent) and gain_by > p3 - p1:
        return "gain", detail
    if (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent)):
        return "no regression", detail
    if spread > bound:
        return "unresolved", detail
    worse = -gain_by / abs(pm) if pm else (0.0 if gain_by >= 0 else float("inf"))
    return ("no regression" if worse <= bound else "regression"), detail
