"""Order statistics for the benchmark's reports."""


def percentile(values, q):
    """The q-th percentile (0 <= q <= 100) by linear interpolation between
    closest ranks: rank (n - 1) * q / 100 of the sorted values, as
    numpy's default and ``statistics.quantiles(method="inclusive")``.
    """
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError("q must be within [0, 100]")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)
