"""Pure helpers: percentiles, span self time, metric names, result lines.

Nothing here touches Spark, the clock or the file system, so the unit
tests in ``perfbench/tests`` cover every function without a session.
"""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
PERCENTILES = (50, 75, 85, 90, 95, 99)
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """A metric name: a letter or digit, then up to 63 of ``[A-Za-z0-9_.-]``."""
    return isinstance(name, str) and METRIC_NAME.fullmatch(name) is not None


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (``p`` in [0, 100])."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest of ``PERCENTILES`` that leaves at least ``min_beyond`` of
    ``n`` samples beyond it, or None when not even the median does."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= min_beyond:
            best = p
    return best


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of ``[start, end]`` its children cover.

    Children are clipped to the parent and overlapping children are
    counted once, so the result is never negative."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
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
    return max(0.0, (end - start) - covered)


def stratified_sample(costs: dict, k: int) -> list[str]:
    """One name from the middle of each group of ``k`` adjacent names in the
    ranking by cost, costliest first, ties by name. A cost is anything
    that orders, such as a (stages, seconds) tuple. Each picked name
    stands for the ``k`` names of about its cost."""
    ranked = sorted(sorted(costs), key=lambda n: costs[n], reverse=True)
    return ranked[k // 2::k]


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> dict:
    """The benchmark's last stdout line; rejects bad names and non-numbers."""
    if attempted < 1 or failed < 0:
        raise ValueError(f"attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_metric_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    }
