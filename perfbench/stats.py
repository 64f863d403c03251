"""Summary statistics used by the benchmark (pure functions, unit-tested)."""

from __future__ import annotations

import math
import statistics

# the tail reported is the highest percentile that still has this many
# samples strictly beyond it
TAIL_BEYOND = 10


def tail(samples) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ``TAIL_BEYOND`` samples beyond it: the (TAIL_BEYOND+1)-th largest
    sample, at percentile 100*(n-TAIL_BEYOND)/n. Needs n > TAIL_BEYOND."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"need more than {TAIL_BEYOND} samples, got {n}")
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values) -> float:
    """Quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def self_times(spans) -> dict[int, float]:
    """Self time per span id: duration minus the union of the intervals
    its direct children cover (clipped to the parent). ``spans`` are
    objects with ``sid``, ``parent``, ``start`` and ``end``."""
    children: dict[int | None, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out
