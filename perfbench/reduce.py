"""Pure reducers for the benchmark's samples (no Spark imports).

Kept apart from the runner so they can be tested on synthetic inputs.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them.

    One sample has no spread, so all three are that sample.
    """
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values; each value weighs the same."""
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v in vals):
        raise ValueError(f"geomean needs positive values, got {min(vals)}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def query_geomean(per_key: dict[str, Sequence[float]]) -> float:
    """Geomean over keys of each key's median time."""
    return geomean(median(times) for times in per_key.values())


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("fail_ratio needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus what its children cover.

    ``spans`` are dicts with ``id``, ``parent`` (an id or ``None``),
    ``start`` and ``end``.  Child intervals are clipped to the parent
    and merged first, so overlapping children are not subtracted twice.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
