"""Summary statistics the benchmark reports.

Every percentile is printed next to its sample count (``op_samples``,
``batch_count``): a percentile is a sound tail estimate only with at
least ten samples beyond it, so a p90 needs 100 samples.
"""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    list, the same rule as NumPy's default."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_key_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over keys of each key's median: every key weighs
    the same, however many samples it has."""
    return geomean([statistics.median(v) for v in samples.values() if v])

