"""Small, dependency-free numeric helpers the benchmark reports with.

Kept apart from the Spark-facing code so ``test_selfcheck.py`` can pin
them without starting a JVM.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the samples at or below it. ``q=50`` on an even count
    returns the lower middle value, so every reported figure is one that
    was measured."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile q must be in (0, 100], got {q}")
    rank = math.ceil(q / 100 * len(vals))
    return vals[rank - 1]


def median_pass(times: dict[str, Sequence[float]]) -> float:
    """Wall time of a typical pass: the sum, over a pass's operations, of
    each operation's median (nearest-rank) latency across the passes. A
    stall that slows one operation in one pass drops out of its median
    instead of into the total."""
    if not times:
        raise ValueError("no timed operations")
    return sum(percentile(v, 50) for v in times.values())


def failed_share(failed: int, attempted: int) -> float:
    """Operations that raised, timed out or failed their output check,
    over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def covered(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals`` (each
    clipped to [lo, hi]); overlapping intervals count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover. Spans are dicts with ``id``,
    ``parent`` (an id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
