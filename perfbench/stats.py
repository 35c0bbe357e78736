"""Percentiles and metric naming rules shared by the benchmark."""

from __future__ import annotations

import math
import re

# Candidate percentiles, lowest first; a workload reports the highest
# one its sample count supports (``tail_percentile``).
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``LADDER`` with at least ``MIN_BEYOND`` of
    ``n`` samples strictly beyond it, or None when even the median has
    fewer."""
    best = None
    for p in LADDER:
        if n - math.ceil(n * p / 100.0) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(len(s) * p / 100.0))
    return s[k - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))
