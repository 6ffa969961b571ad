"""Order statistics for the benchmark report."""


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks (the common 'type 7' definition)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)
