"""Pure helpers for the perfbench metrics: percentiles and the tail rule,
interval unions, time attribution over nested spans, and space
amplification of table directories. No Spark here; tests live in
``perfbench/tests``."""

from __future__ import annotations

import math
import os
from collections import defaultdict
from pathlib import Path

#: ``.tail`` is the highest percentile with at least this many samples
#: beyond it.
TAIL_SAMPLES_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * pct / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n: int, beyond: int = TAIL_SAMPLES_BEYOND) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of ``n``
    samples above it, or None when fewer than ``beyond + 1`` samples exist.
    With 20 samples that is p50, with 100 samples p90."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def tail(values: list[float]) -> tuple[float, int]:
    """``(value, percentile)`` of the tail by the rule above. Below the
    sample count the rule needs, the tail is the maximum (reported as
    p100) so the metric is always present."""
    p = tail_pct(len(values))
    if p is None:
        return max(values), 100
    return percentile(values, p), p


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def driver_gap(op_wall: float, job_intervals, op_start: float) -> tuple[float, float]:
    """``(job_busy, driver_gap)`` of one operation: the union of its Spark
    job intervals inside the operation, and the rest of its wall time,
    when no Spark job of it was running."""
    busy = union_length(clip(job_intervals, op_start, op_start + op_wall))
    return busy, max(0.0, op_wall - busy)


def attribute(
    spans: list[tuple], start: float, end: float, main_thread=None
) -> dict[str, float]:
    """Split the wall time ``[start, end]`` over named spans so that the
    parts add up to ``end - start``.

    ``spans`` are ``(name, thread, depth, t0, t1)``. At each instant every
    thread that has an open span charges its innermost one (the highest
    depth); when several threads are busy at once the instant is split
    evenly between them. ``main_thread`` is the thread that issued the
    operation: while its innermost span is its outermost one and another
    thread has a span open, it is taken to be waiting on that thread and
    is not charged. Time no span covers is charged to ``""``.
    For spans on one thread this is the usual self time: a span's wall
    time minus that of its children."""
    events = sorted(
        {start, end}
        | {t for s in spans for t in (s[3], s[4]) if start < t < end}
    )
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(events, events[1:]):
        mid = (a + b) / 2
        inner: dict = {}
        for name, thread, depth, t0, t1 in spans:
            if t0 <= mid < t1 and (thread not in inner or depth > inner[thread][0]):
                inner[thread] = (depth, name)
        if len(inner) > 1 and inner.get(main_thread, (1,))[0] == 0:
            del inner[main_thread]
        if not inner:
            out[""] += b - a
            continue
        share = (b - a) / len(inner)
        for _, name in inner.values():
            out[name] += share
    return dict(out)


def space_amp(roots: list[Path], live_files: set[Path]) -> tuple[float, int, int]:
    """``(amplification, bytes_on_disk, live_bytes)``: every regular file
    below the ``roots`` counts on disk; ``live_files`` are the data files
    the tables' current snapshots reference (a clone may reference files
    under another root)."""
    on_disk = sum(
        (Path(d) / f).stat().st_size
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
    )
    live = sum(p.stat().st_size for p in live_files)
    return (on_disk / live if live else 0.0), on_disk, live
