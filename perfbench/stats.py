"""Quantile and ratio math shared by the benchmark and its self-tests."""

from __future__ import annotations

import math


def harrell_davis(values: list[float], q: float, steps: int = 64) -> float:
    """Harrell-Davis estimate of the `q` quantile: a weighted mean of all
    order statistics, the i-th weighted by the Beta(q(n+1), (1-q)(n+1))
    probability of [(i-1)/n, i/n]. The weights are integrated with Simpson's
    rule in `steps` slices per interval. With a few dozen samples it varies
    far less between runs than any single order statistic does."""
    if not values:
        raise ValueError("quantile of no samples")
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    ordered = sorted(values)
    n = len(ordered)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)

    h = 1.0 / (n * steps)
    weights = []
    for i in range(n):
        lo, hi = i / n, (i + 1) / n
        inner = sum((4 if k % 2 else 2) * density(lo + k * h) for k in range(1, steps))
        weights.append((density(lo) + inner + density(hi)) * h / 3)
    return sum(w * x for w, x in zip(weights, ordered)) / sum(weights)


def ratio(num: float, den: float) -> float:
    """`num / den`, and 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0
