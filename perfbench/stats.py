"""Arithmetic the benchmark reports: tail percentile, geomean over op
kinds, self time of nested spans, time net of stolen CPU. Pure Python,
no Spark."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

#: The tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND
         ) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples
    strictly above its rank: ``(value, percentile, n)``.

    With n sorted samples the value at 0-based rank ``n - 1 - k`` has
    ``k`` samples after it, so the rank is ``n - 1 - min_beyond``, and
    its percentile is ``100 * rank / (n - 1)``. Fewer than
    ``min_beyond + 1`` samples fall back to the minimum (percentile 0):
    no rank has enough samples beyond it, and the minimum is the value
    that drifts least with the sample count."""
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    rank = max(0, n - 1 - min_beyond)
    pct = 100.0 * rank / (n - 1) if n > 1 else 0.0
    return xs[rank], pct, n


def unstolen_s(wall_s: float, busy: int, stolen: int) -> float:
    """``wall_s`` scaled by the share of the guest's busy CPU time in
    that interval which the hypervisor did not steal (``busy`` and
    ``stolen`` are /proc/stat tick deltas over the same interval).

    A vCPU accrues steal only while it has work and another guest holds
    the physical core, so ``stolen / (busy + stolen)`` is the share of
    the interval's CPU demand that waited on neighbours; the result is
    the time the interval takes on a host that leaves the guest's CPUs
    alone. It does not depend on how many vCPUs the work spans. With no
    busy ticks (an interval shorter than the tick) it is ``wall_s``."""
    if busy <= 0:
        return wall_s
    return wall_s * busy / (busy + max(0, stolen))


def best_of_passes(ops: list[tuple[int, str, float]]
                   ) -> list[tuple[str, float]]:
    """One ``(kind, seconds)`` per op of a pass: the fastest of that
    op's repeats over the passes. ``ops`` are ``(pass, kind, seconds)``.
    An op is its kind plus the number of ops of that kind before it in
    its pass, so passes may order their ops differently. Interference
    from other guests (stolen or shared cores) only ever adds time, so
    the fastest repeat is the least disturbed one."""
    best: dict[tuple[str, int], float] = {}
    seen: dict[tuple[int, str], int] = defaultdict(int)
    for p, kind, s in ops:
        key = (kind, seen[p, kind])
        seen[p, kind] += 1
        best[key] = min(s, best.get(key, s))
    return [(kind, s) for (kind, _), s in best.items()]


def kind_medians(ops: list[tuple[str, float]]) -> dict[str, float]:
    """Median latency per op kind from ``(kind, seconds)`` samples."""
    by: dict[str, list[float]] = defaultdict(list)
    for kind, s in ops:
        by[kind].append(s)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_geomean(ops: list[tuple[str, float]]) -> float:
    """Geomean over op kinds of each kind's median: every kind weighs
    the same however often it ran."""
    return geomean(list(kind_medians(ops).values()))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float
            ) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its direct children cover. Children may overlap each other (spans
    from another thread, e.g. a streaming batch callback), so the
    covered part is the union of their intervals, not their sum."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer (the span's ``layer`` field)."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += own[s["id"]]
    return dict(out)


def adopt(spans: list[dict]) -> None:
    """Give every span marked ``adopt`` (timed elsewhere, e.g. Catalyst
    phases read from the JVM) a parent: the innermost other span whose
    interval holds its midpoint. A span nothing holds stays a root."""
    hosts = [s for s in spans if not s.get("adopt")]
    for s in spans:
        if not s.get("adopt"):
            continue
        mid = (s["start"] + s["end"]) / 2
        inner = [h for h in hosts if h["start"] <= mid <= h["end"]]
        s["parent"] = (max(inner, key=lambda h: (h["start"], h["id"]))["id"]
                       if inner else None)
