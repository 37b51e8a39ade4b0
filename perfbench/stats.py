"""Statistics helpers for the benchmark's metrics."""
import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def tail(values, beyond=10):
    """The highest whole percentile that has at least `beyond` samples above
    it, as (percentile, value, sample count); None below beyond + 1 samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond  # samples at or below the reported value
    return math.floor(100 * k / n), xs[k - 1], n


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted
