"""Spans, counters and the statistics the benchmark reports.

A traced run records one span per call the benchmark makes into a layer
of the package (and per Spark job / Catalyst phase it reads back from
the JVM), keeps them in memory, and writes them out when the run ends.
A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: The layer a span belongs to is the part of its name before the dot.
LAYERS = ("context", "sources", "io", "queries", "iterative", "cache", "plan", "exec", "sinks")
#: Layers whose spans are read back from Spark rather than timed here.
EXTERNAL = ("plan", "exec")
#: JVM timestamps have millisecond resolution.
_SLACK = 0.002


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""
        self.failed_layer: str | None = None
        self.counters: dict[str, float] = {}

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def peak(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = max(self.counters.get(name, 0), value)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        except BaseException:
            # the innermost span an exception leaves is the failing layer
            if self.failed_layer is None:
                self.failed_layer = self.spans[idx].layer
            raise
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """Record an interval measured elsewhere (a Spark job, a Catalyst
        phase) under the innermost span of the current operation that
        contains its start (spans nest, so that is the latest one)."""
        parent = None
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s.op != self.op:
                break
            if s.layer in EXTERNAL:
                continue
            if s.start - _SLACK <= start <= s.end + _SLACK:
                parent = i
                break
        self.spans.append(Span(name, start, max(start, end), parent, self.op))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def layer_summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: count and summed self time (seconds)."""
    out: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, self_times(spans)):
        d = out.setdefault(s.name, {"count": 0, "self_s": 0.0})
        d["count"] += 1
        d["self_s"] += st
    return out


# -- statistics ----------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile by ``statistics.quantiles`` (exclusive method)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100)
    return cuts[round(q * 100) - 1]


def tail_count(values: list[float], q: float) -> int:
    """Samples strictly beyond the ``q`` quantile."""
    cut = quantile(values, q)
    return sum(1 for v in values if v > cut)


@dataclass
class Outcomes:
    """Operations attempted and failed; a failure is an exception or a
    wrong result, attributed to the layer where it surfaced."""

    attempted: int = 0
    failed: int = 0
    by_layer: dict[str, int] = field(default_factory=dict)

    def record(self, ok: bool, layer: str | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            key = layer or "unknown"
            self.by_layer[key] = self.by_layer.get(key, 0) + 1

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
