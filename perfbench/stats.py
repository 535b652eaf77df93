"""Small statistics shared by the benchmark, its steadiness tool and tests."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of PERCENTILES that leaves at least ``min_beyond`` of ``n``
    samples above it, or None when even the median does not."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``
    (negative when it is better)."""
    delta = (new - base) if better == "lower" else (base - new)
    return delta / base


@dataclass
class Tally:
    """Operations attempted and failed (raised, or failed an output check)."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, what: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.failures.extend(f"{what}: {e}" for e in errors)
        return not errors

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
