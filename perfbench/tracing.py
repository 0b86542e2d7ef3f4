"""In-memory spans around every workload operation and every layer call.

A span records name, start, end, parent span and request id. While tracing
is on, each span also owns a Spark job group, so the status store can later
attribute jobs, stages and tasks to exactly the call that submitted them
(see sparkstats.py). Spans stay in memory and are written out once, when
the run ends.

With tracing off, ``span`` yields without touching Spark, so untraced runs
pay nothing but a context-manager entry per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    request_id: int | None
    name: str
    start: float  # time.time() seconds, comparable with Spark job timestamps
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"perfbench-{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, request_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = parent.request_id
        sp = Span(self._next_id, parent.span_id if parent else None,
                  request_id, name, time.time())
        self._next_id += 1
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def self_seconds_by_layer(spans: list[Span]) -> dict[str, float]:
    """A span's self time is its duration minus the part of its interval
    that its child spans cover; summed per layer."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent_id is not None:
            kids.setdefault(sp.parent_id, []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        covered = union_length([(c.start, c.end) for c in kids.get(sp.span_id, [])],
                               sp.start, sp.end)
        out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - covered
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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
