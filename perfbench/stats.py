"""Reducers the benchmark reports with; pure functions, unit-tested
in ``perfbench/tests``."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def geomean(values: Iterable[float]) -> float:
    vals = [float(v) for v in values]
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geomean needs one or more positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def failed_frac(attempted: int, raised: int, wrong: int) -> float:
    """(operations that raised + operations whose output check
    failed) / operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return (raised + wrong) / attempted


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of its
    interval covered by its direct children, summed by the layer (the
    first dotted component of the span name)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _covered(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])],
            s["start"], s["end"],
        )
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
