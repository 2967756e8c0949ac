"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

#: percentiles a tail may be reported at, highest last
LADDER = (50, 75, 90, 95, 99, 99.9)
#: samples a reported tail percentile must have beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100), at least 1
    return xs[int(rank) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile on ``LADDER`` that has at least ``MIN_BEYOND``
    samples beyond it in a sample of ``n``; None when even the median has
    fewer."""
    best = None
    for p in LADDER:
        if n * (100 - Fraction(str(p))) >= 100 * MIN_BEYOND:
            best = p
    return best


def _finite(x: float) -> float | None:
    return x if math.isfinite(x) else None


def latency_summary(values: list[float]) -> dict:
    """Median, the supported tail percentile and the sample count. A failed
    operation is passed as ``math.inf``: it misses every latency limit, and
    a figure it decides reads None."""
    out: dict = {"n": len(values), "failed": sum(not math.isfinite(x) for x in values)}
    if values:
        out["p50"] = _finite(statistics.median(values))
        p = tail_percentile(len(values))
        if p is not None:
            out["tail_p"] = p
            out["tail"] = _finite(percentile(values, p))
    return out

