"""Small statistics helpers shared by the workloads and the report."""

from __future__ import annotations

import math
import re
import statistics

#: a metric or workload name as ``BENCHMARK.json`` allows it
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def tail_quantile(n: int, cap: float = 0.9, beyond: int = TAIL_BEYOND) -> float:
    """The highest quantile <= ``cap`` that leaves ``beyond`` of ``n``
    samples above it (nearest rank).  Below ``2 * beyond`` samples no
    quantile above the median qualifies, and the median (0.5) is used."""
    if n <= 0:
        raise ValueError("no samples")
    q = min(cap, (n - beyond) / n)
    return q if q > 0.5 else 0.5


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; ``q == 0.5`` is the ordinary median."""
    if not values:
        raise ValueError("no samples")
    if q == 0.5:
        return statistics.median(values)
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples above the nearest-rank ``q`` quantile of ``n`` samples."""
    return n - max(1, math.ceil(q * n))
