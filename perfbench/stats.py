"""Arithmetic behind the benchmark's metrics, kept free of Spark so it
can be checked on hand-made inputs (see test_perfbench.py)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def per_key_medians(samples: Mapping[str, Sequence[float]]) -> dict[str, float]:
    """Median of each key's samples; keys without samples are left out."""
    return {k: statistics.median(v) for k, v in samples.items() if v}


def batch_total(samples: Mapping[str, Sequence[float]]) -> float:
    """Sum over keys of each key's median: the cost of one pass over the
    workload at the typical speed of every key."""
    return sum(per_key_medians(samples).values())


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values; every value weighs equally."""
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError(f"geomean needs positive values, got {vals!r}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def slot_busy_ratio(run_s: float, wall_s: float, cores: int) -> float:
    """Share of the executor slots kept busy while the plan ran:
    executor run time over (wall time x cores)."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return run_s / (wall_s * cores)


def ratio(num: float, den: float) -> float:
    """num / den, or 0 where there is nothing to divide by (a workload
    that writes nothing has a write amplification of 0)."""
    return num / den if den else 0.0


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, and a child is clipped to its parent's interval).

    Each span is a mapping with ``id``, ``parent`` (an id or None),
    ``start`` and ``end``.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            lo = max(s["start"], parent["start"])
            hi = min(s["end"], parent["end"])
            if hi > lo:
                children.setdefault(parent["id"], []).append((lo, hi))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: Sequence[Mapping]) -> dict[str, float]:
    """Self time summed per span name (one name per layer)."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
