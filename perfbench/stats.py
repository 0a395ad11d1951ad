"""Pure helpers for the benchmark's summary statistics."""

from __future__ import annotations

# The tail is the highest percentile that still has this many calls
# beyond it, so that it rests on more than one or two samples.
TAIL_BEYOND = 10


def tail(latencies: list[float]) -> tuple[float, float]:
    """Return ``(value, percentile)`` of the highest percentile that has
    at least TAIL_BEYOND calls beyond it.

    With n sorted samples that is the sample of rank n - TAIL_BEYOND
    (1-based), i.e. percentile 100 * (n - TAIL_BEYOND) / n. With
    TAIL_BEYOND samples or fewer no percentile qualifies; the maximum
    is returned as percentile 100 and the caller reports the count.
    """
    if not latencies:
        raise ValueError("no latencies")
    xs = sorted(latencies)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals intersected with ``[lo, hi]``; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out
