"""Statistics the benchmark reports and the checks made on repeated runs."""
import math
import statistics

TAIL_MIN = 10  # samples that must lie beyond a reported percentile


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(xs, v):
    """Number of samples strictly above v."""
    return sum(1 for x in xs if x > v)


def tail_ok(xs, p):
    """True when at least TAIL_MIN samples lie above the p-th percentile,
    the condition for reporting that percentile."""
    return bool(xs) and beyond(xs, percentile(xs, p)) >= TAIL_MIN


def highest_tail(xs, candidates=(99.9, 99, 95, 90, 80, 75, 50)):
    """The highest candidate percentile that tail_ok allows, or None."""
    for p in candidates:
        if tail_ok(xs, p):
            return p
    return None


def quartiles(xs):
    """First quartile, median and third quartile, as
    statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        raise ValueError("quartiles need at least two values")
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median."""
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def worse_by(first, second, better):
    """How much the second median is worse than the first, as a share of
    the first (negative when it is better)."""
    m1, m2 = median(first), median(second)
    delta = (m2 - m1) if better == "lower" else (m1 - m2)
    return delta / m1


def agree(first, second, bound, better):
    """The acceptance rule for two sets of runs of the same code: the second
    median is not worse than the first by more than bound."""
    return worse_by(first, second, better) <= bound
