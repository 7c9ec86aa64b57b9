"""Summary statistics for latency samples: the median and a fixed-rank tail.

The tail is the highest percentile that still has at least ``TAIL_BEYOND``
samples above it, by nearest rank: of ``n`` sorted samples, the one at
0-based index ``n - 1 - TAIL_BEYOND``, which is percentile
``100 * (n - TAIL_BEYOND) / n``.  When that rank falls at or below the
median (``n <= 2 * TAIL_BEYOND + 1``), the sample cannot support a tail
above the median and the tail is reported as the median itself.  Means are never
reported.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail_rank(n: int) -> tuple[int, float] | None:
    """``(0-based index, percentile)`` of the tail among ``n`` sorted
    samples, or ``None`` when no percentile above the median has
    ``TAIL_BEYOND`` samples beyond it."""
    if n < 1:
        raise ValueError("no samples")
    idx = n - 1 - TAIL_BEYOND
    if idx < 0 or 2 * idx < n:
        return None
    return idx, 100.0 * (idx + 1) / n


def summarize(samples) -> dict:
    """``{"n", "p50", "tail", "tail_pct"}`` for a list of numbers."""
    xs = sorted(samples)
    med = statistics.median(xs)
    rank = tail_rank(len(xs))
    if rank is None:
        return {"n": len(xs), "p50": med, "tail": med, "tail_pct": 50.0}
    idx, pct = rank
    return {"n": len(xs), "p50": med, "tail": xs[idx], "tail_pct": pct}
