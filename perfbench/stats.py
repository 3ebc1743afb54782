"""Summary math shared by the benchmark: percentiles that state their
sample count, ratios over a possibly empty base, and interval unions."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie
# beyond it (choosing-metrics rule: a p99 from 20 samples is the max)
TAIL_SAMPLES = 10
CANDIDATE_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs) / 100.0 - 1e-9))
    return xs[min(rank, len(xs)) - 1]


def highest_supported_percentile(n: int, tail: int = TAIL_SAMPLES):
    """The highest candidate percentile with at least ``tail`` of ``n``
    samples beyond it, or None when the sample supports only the median."""
    for q in CANDIDATE_PERCENTILES:
        if n * (100.0 - q) >= tail * 100.0 - 1e-9:
            return q
    return None


def timing_summary(values) -> dict:
    """Median plus the highest percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    q = highest_supported_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


def ratio(num: float, base: float) -> float:
    """``num / base``; 0.0 when the base is empty (no work of that kind).
    Every ratio the benchmark prints names its base where it is defined."""
    return num / base if base else 0.0


def interval_union_s(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps counted once."""
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
