"""Percentiles, spreads and metric-name checks shared by the benchmark and its tests."""

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Percentiles a tail can be reported at, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def valid_name(name):
    """A metric name is a non-empty run of letters, digits, '_', '.' and '-'."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def tail_percentile(n):
    """The highest percentile in LADDER with at least ten of n samples beyond
    it, or None when there are too few samples for any."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, int(math.ceil(p / 100.0 * len(s) - 1e-9)))
    return s[k - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(values, n=None):
    """(percentile, value) of the reported tail: the percentile tail_percentile
    picks for n samples (by default len(values)), or (100, slowest sample) when
    no percentile has ten of n samples beyond it."""
    p = tail_percentile(len(values) if n is None else n)
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)
