"""Summary maths for the benchmark: medians, the tail-percentile rule,
span self time and the tracing-overhead difference."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it among ``n``: p = 100 * (1 - beyond / n). None when fewer than
    ``beyond + 1`` samples exist (no percentile qualifies)."""
    if n <= beyond:
        return None
    return 100.0 * (1.0 - beyond / n)


def tail_value(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) under the tail rule: the sample at rank
    n - beyond (1-based) of the sorted values, so exactly ``beyond``
    samples lie above it. Raises when there are too few samples."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        raise ValueError(
            f"{len(values)} samples: need more than {beyond} for a tail")
    ordered = sorted(values)
    return p, ordered[len(values) - beyond - 1]


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval covered by its
    children (overlapping children are counted once; parts of a child
    outside the parent are ignored)."""
    start, end = span
    clipped = sorted((max(s, start), min(e, end)) for s, e in children
                     if min(e, end) > max(s, start))
    covered, cur_s, cur_e = 0.0, -math.inf, -math.inf
    for s, e in clipped:
        if s > cur_e:
            covered += max(0.0, cur_e - cur_s)
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    covered += max(0.0, cur_e - cur_s)
    return (end - start) - covered


def tracing_overhead(traced_wall_s: float, untraced_wall_s: float) -> float:
    """Cost of tracing: traced wall time minus untraced wall time of the
    same work (negative when noise exceeds the overhead)."""
    return traced_wall_s - untraced_wall_s
