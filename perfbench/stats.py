"""Summary statistics shared by the benchmark and its steadiness check."""

from __future__ import annotations

import math
import re
import statistics

# Metric and workload names: a letter or digit, then letters, digits, `_`,
# `.` and `-`, at most 64 in all.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, one slow sample decides the value.
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    return (q3 - q1) / mid if mid else math.inf


def tail(values, min_beyond: int = MIN_BEYOND):
    """The highest percentile in TAIL_PERCENTILES with at least
    ``min_beyond`` samples above it, by the nearest-rank definition.

    Returns ``(percentile, value, sample_count)``, or None when the samples
    support no listed percentile.
    """
    ordered = sorted(values)
    n = len(ordered)
    for pct in TAIL_PERCENTILES:
        rank = math.ceil(pct / 100.0 * n)
        if rank >= 1 and n - rank >= min_beyond:
            return pct, float(ordered[rank - 1]), n
    return None
