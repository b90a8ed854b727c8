"""The benchmark's arithmetic: summaries, tail percentiles, interval unions,
geometric means and the choice of samples undisturbed by host steal. Self-tested by test_stats.py, which run.py executes
before every run."""
import math
import statistics
from fractions import Fraction


def median(xs):
    return statistics.median(xs)


def summary(xs):
    """Median and quartiles of a sample, the spread as a share of the
    median. Quartiles follow statistics.quantiles(n=4) (exclusive method)."""
    xs = list(xs)
    if len(xs) == 1:
        q1 = q3 = xs[0]
    else:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("inf")}


def _rank(n, p):
    # exact: 99.9 / 100 * 1000 is 999.0000000000001 in floating point
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    return s[_rank(len(s), p) - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(xs, min_beyond=10, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """The highest candidate percentile that still has at least `min_beyond`
    samples beyond it, as (p, value); None when no candidate qualifies."""
    n = len(xs)
    for p in candidates:
        if beyond(n, p) >= min_beyond:
            return p, percentile(xs, p)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals; overlapping
    and nested intervals count once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(span, intervals):
    """Length of `span` = (start, end) covered by none of `intervals` — the
    driver gap when the intervals are the Spark jobs run inside the span."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in intervals]
    return (e0 - s0) - union_length(clipped)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def undisturbed(items, steal, limit):
    """The items (set-ups or rounds) whose steal share is at most `limit`,
    or all of them when none is, and how many were left out."""
    items = list(items)
    kept = [x for x, s in zip(items, steal) if s <= limit]
    return (kept, len(items) - len(kept)) if kept else (items, 0)
