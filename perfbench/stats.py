"""Pure statistics and checksum helpers of the benchmark (no Spark)."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, p: float) -> tuple[float, int] | None:
    """The ``p``-th percentile (nearest rank) of ``values`` and the number of
    samples strictly beyond it, or ``None`` when fewer than
    :data:`MIN_BEYOND` samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    value = xs[rank - 1]
    beyond = sum(1 for x in xs if x > value)
    if beyond < MIN_BEYOND:
        return None
    return float(value), beyond


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, the quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread the benchmark's bounds are set against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def self_time(span: tuple[float, float], children) -> float:
    """Duration of ``span`` minus the part of it covered by ``children``
    (each a ``(start, end)``; overlaps are counted once, parts outside the
    span are ignored)."""
    s0, s1 = span
    clipped = sorted(
        (max(a, s0), min(b, s1)) for a, b in children if min(b, s1) > max(a, s0)
    )
    covered = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (s1 - s0) - covered


def merge_closed_form(stored: dict, delta: dict) -> dict:
    """Final table of an upsert keyed on the dict keys: ``delta`` ∪
    (``stored`` ▷ ``delta``), i.e. new rows win on key collision and stored
    rows with other keys survive untouched."""
    out = {k: v for k, v in stored.items() if k not in delta}
    out.update(delta)
    return out
