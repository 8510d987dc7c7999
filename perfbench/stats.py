"""Summary statistics the benchmark reports."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(rank) - 1]


def tail_percentile(values, min_beyond=10, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least `min_beyond` samples
    strictly above it, as (p, value); (50, median) when none has."""
    for p in candidates:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return p, v
    return 50, percentile(values, 50)
