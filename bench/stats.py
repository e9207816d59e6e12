"""Order statistics used by the benchmark's metrics."""
import statistics


def quartiles(values):
    """First quartile, median and third quartile, as
    `statistics.quantiles(values, n=4)` gives them (needs two values)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """The p-th percentile (0..100), interpolating linearly between the
    two nearest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, threshold):
    """How many values lie strictly above `threshold`."""
    return sum(1 for v in values if v > threshold)


def tail(values, p, need=10):
    """The p-th percentile, the number of samples above it, and whether
    at least `need` of them are: a tail figure resting on fewer samples
    than that is reported but not trusted."""
    v = percentile(values, p)
    n = beyond(values, v)
    return v, n, n >= need
