"""Summary statistics the benchmark reports (pure functions, no Spark)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError(f"geomean needs positive values, got {vals!r}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def geomean_of_medians(samples: Mapping[str, Iterable[float]]) -> float:
    """Geometric mean, over operations, of each operation's median
    latency across passes (``op_geomean_s``). Operations with no
    successful sample are left out."""
    medians = [median(v) for v in samples.values() if list(v)]
    return geomean(medians)


def ops_per_min(n_ops: int, pass_walls: Iterable[float]) -> float:
    """Operations per minute over the median pass."""
    return 60.0 * n_ops / median(pass_walls)


def spread(values: Iterable[float]) -> dict[str, float]:
    """Median, quartiles and the quartile distance as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    vals = list(values)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else math.inf}
