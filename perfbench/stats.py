"""Latency summaries and span arithmetic (no Spark)."""

from __future__ import annotations

import math
from dataclasses import dataclass

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def quantile(samples: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted
    average of all order statistics. In samples of a few dozen drawn from a
    mix of query shapes, a single order statistic jumps between shapes whose
    costs differ; the weighted average moves smoothly instead."""
    xs = sorted(samples)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                        - log_beta)

    weights = []
    steps = 32  # Simpson's rule over each order statistic's interval
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h)
                    for k in range(1, steps))
        weights.append((pdf(lo) + inner + pdf(lo + steps * h)) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Of n samples, that is percentile 100 * (n - 10) / n, the rank of the
    order statistic x_(n-10). Returns ``(value, percentile, n)`` with the
    value estimated by ``quantile``, or None when fewer than 11 samples
    exist.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    q = (n - TAIL_BEYOND) / n
    return quantile(samples, q), 100.0 * q, n


@dataclass
class Span:
    """One traced call: name, start and end (seconds), the index of the span
    that caused it (or -1), and the query it belongs to."""

    name: str
    start: float
    end: float
    parent: int
    query: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent >= 0:
            p = spans[sp.parent]
            s, e = max(sp.start, p.start), min(sp.end, p.end)
            if e > s:
                kids.setdefault(sp.parent, []).append((s, e))
    return [sp.duration - covered(kids.get(i, [])) for i, sp in enumerate(spans)]
