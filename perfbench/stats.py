"""Order statistics the benchmark reports.

A percentile is only reported when at least ``MIN_BEYOND`` samples lie
beyond it: with ``n`` samples, p99 needs ``n >= 1000``. ``tail`` picks
p99 when the sample supports it and otherwise the highest percentile
that does, so a small sample never reports a tail that is really its
maximum.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def supported(q: float, n: int) -> bool:
    """True when percentile ``q`` (0-100) has >= MIN_BEYOND of ``n``
    samples beyond it."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; raises if the sample cannot support it."""
    xs = sorted(values)
    if not xs or not supported(q, len(xs)):
        raise ValueError(f"p{q} needs {MIN_BEYOND} samples beyond it; have {len(xs)}")
    rank = max(math.ceil(q / 100.0 * len(xs)), 1)
    return xs[rank - 1]


def tail(values, want: float = 99.0) -> tuple[float, float]:
    """``(q, value)``: the ``want`` percentile if supported, else the
    highest whole percentile the sample supports (at least the median,
    which needs 20 samples)."""
    n = len(values)
    q = want
    while q > 50 and not supported(q, n):
        q -= 1
    return q, percentile(values, q)


def median(values) -> float:
    return statistics.median(values)

