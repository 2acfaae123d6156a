"""Order statistics for the benchmark: medians, the supported tail
percentile, and spans with their self time."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def supported_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile ``p`` with at least ``beyond`` of ``n``
    samples above it, i.e. ``n * (100 - p) / 100 >= beyond``; ``None`` when
    ``n`` is too small to support even the median."""
    if n <= 0:
        return None
    p = 100 - math.ceil(100 * beyond / n)
    return p if p >= 50 else None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return float(xs[rank - 1])


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    trace_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of its interval covered by its
    direct children (children may overlap each other)."""
    covered = 0.0
    cur_start = cur_end = None
    kids = sorted(
        (max(s.start, span.start), min(s.end, span.end))
        for s in spans
        if s.parent == span.name and s.trace_id == span.trace_id
    )
    for a, b in kids:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered
