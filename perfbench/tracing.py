"""Spans recorded by the benchmark around each call into a layer, and the
summary statistics it reports.

A span records name, start, end, parent and a round id. Spans are kept in
memory and written out when the run ends. A span's self time is its
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Iterator


class Tracer:
    """In-memory span recorder. ``on_switch(name)`` is called with the
    innermost open span's name whenever it changes (None when no span is
    open), which is how the benchmark keeps Spark's job group equal to
    the span that caused the job."""

    def __init__(self, on_switch: Callable[[str | None], None] | None = None):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._on_switch = on_switch

    @contextmanager
    def span(self, name: str, round_id: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "round": round_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        if self._on_switch:
            self._on_switch(group_id(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._on_switch:
                self._on_switch(
                    group_id(self.spans[self._open[-1]]) if self._open else None
                )


def group_id(span: dict) -> str:
    """Spark job-group id for a span: ``<round>/<name>``."""
    return f"{span['round']}/{span['name']}"


def split_group_id(group: str) -> tuple[str, str]:
    round_id, _, name = group.partition("/")
    return round_id, name


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        kids = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(sp["id"], [])
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - _covered(kids)
    return out


def tail_percentile(n: int) -> float | None:
    """Highest of the reported percentiles with at least ten samples
    beyond it, or None when n is too small for any tail."""
    for per_mille in (999, 990, 900, 500):
        if n * (1000 - per_mille) >= 10 * 1000:
            return per_mille / 10
    return None


def summary(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (nearest-rank), when there are enough samples."""
    if not values:
        raise ValueError("summary of no samples")
    out = {"median": statistics.median(values), "n": len(values)}
    q = tail_percentile(len(values))
    if q is not None:
        ranked = sorted(values)
        k = max(0, math.ceil(q * len(ranked) / 100) - 1)
        out[f"p{q:g}"] = ranked[k]
    return out
