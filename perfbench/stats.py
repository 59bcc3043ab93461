"""Summary statistics for timings."""

from __future__ import annotations

import statistics

#: Candidate percentiles, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of ``LADDER`` with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, supported tail and sample count of one timing series."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None and tail > 50.0:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out


def quieter_half(values: list[float], steals: list[float]) -> list[float]:
    """The values measured during the half of the samples (rounded up)
    with the least hypervisor steal. On a shared VM, a sample whose CPU
    was partly given to other guests is slower for reasons outside the
    program; comparing the quieter halves of two runs compares the
    program."""
    if len(values) != len(steals):
        raise ValueError("one steal share per value")
    order = sorted(range(len(values)), key=lambda i: steals[i])
    return [values[i] for i in order[: (len(values) + 1) // 2]]
