"""Order statistics with the sample-count rule the benchmark reports by: a
percentile is only reported when at least ten samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], q: float, weights: list[int] | None = None) -> float:
    """The ``q``-quantile (0 < q < 1) by the nearest-rank rule over
    ``values``, each counted ``weights[i]`` times (default 1). Raises
    TooFewSamples unless at least MIN_BEYOND samples lie above the rank."""
    if weights is None:
        weights = [1] * len(values)
    if len(weights) != len(values):
        raise ValueError("values and weights differ in length")
    n = sum(weights)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; have {n - rank} of {n}")
    seen = 0
    for v, w in sorted(zip(values, weights)):
        seen += w
        if seen >= rank:
            return v
    raise AssertionError("unreachable")
