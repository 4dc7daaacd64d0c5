"""Small statistics helpers shared by the workloads and the tracer."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Runs too short for that (under 20 samples) report the
    nearest-rank p75 instead: the maximum of a handful of samples is
    mostly the host's noise."""
    values = sorted(values)
    n = len(values)
    if n == 0:
        return 0.0, "none"
    if n < 20:
        return float(values[math.ceil(0.75 * n) - 1]), "p75"
    # nearest-rank: index n-11 leaves exactly ten samples above it
    k = n - 11
    return float(values[k]), f"p{int(100 * (k + 1) / n)}"
