"""Pure arithmetic shared by the benchmark: medians, tail selection,
interval coverage and span self time. No Spark, no IO."""

from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any

#: A tail percentile is reported only where at least this many samples
#: lie beyond it, so one slow epoch cannot be the whole tail.
TAIL_BEYOND = 10


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr; the result line stays last on stdout."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p50_max(xs: list[float]) -> tuple[float, float]:
    return (median(xs), float(max(xs))) if xs else (0.0, 0.0)


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int] | None:
    """Highest percentile of ``xs`` with at least ``beyond`` samples
    strictly above its position: returns (value, percentile, n_beyond).
    None when there are too few samples for any such percentile."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    i = n - 1 - beyond
    return float(s[i]), 100.0 * (i + 1) / n, n - 1 - i


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of ``span`` covered by the union of ``others``."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in others if e > s0 and s < e0]
    return union_length(clipped)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    stream_id: str | None = None
    epoch_id: int | None = None
    info: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover. Children
    may run on other threads and overlap each other; overlapping children
    count once, and a child's part outside its parent counts for nothing."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered((s.start, s.end), kids.get(s.id, [])) for s in spans}


def epoch_of(spans: list[Span]) -> dict[int, int | None]:
    """Epoch id per span: its own, else its nearest ancestor's."""
    by_id = {s.id: s for s in spans}
    out: dict[int, int | None] = {}

    def resolve(s: Span) -> int | None:
        if s.id not in out:
            if s.epoch_id is not None or s.parent not in by_id:
                out[s.id] = s.epoch_id
            else:
                out[s.id] = resolve(by_id[s.parent])
        return out[s.id]

    for s in spans:
        resolve(s)
    return out
