"""Order statistics for the benchmark's reports."""
import statistics

MIN_TAIL = 10


class TooFewSamples(ValueError):
    pass


def median(values):
    return statistics.median(values)


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values`, refused with TooFewSamples
    unless at least MIN_TAIL samples lie beyond it, so that a reported
    tail rests on more than a handful of requests."""
    n = len(values)
    if n * (1.0 - q) < MIN_TAIL:
        raise TooFewSamples(f"p{q * 100:g} needs {MIN_TAIL} samples beyond it; have {n} in all")
    s = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
