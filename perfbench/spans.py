"""In-memory span recorder for the traced run.

A span is (name, start, end, parent); its layer is the name's first
dotted component (`stream.addBatch` -> `stream`). Spans are only kept
when tracing is on; `cost_s` accumulates the time spent recording them,
which is the tracing overhead the report states.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float        # seconds, time.time() clock
    end: float
    parent: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, max(start, end), parent))
        self.cost_s += time.perf_counter() - t
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Times the block; yields the new span's id (None when off)."""
        start = time.time()
        sid = self.add(name, start, start, parent)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid].end = time.time()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in self.children(sid))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(c.id for c in self.children(i))
        return out

    def layer_self_times(self, sid: int) -> dict[str, float]:
        """Self time per layer over the subtree rooted at `sid`. When
        children nest inside their parents these sum to the root's wall
        time."""
        out: dict[str, float] = {}
        for i in self.subtree(sid):
            lay = self.spans[i].layer
            out[lay] = out.get(lay, 0.0) + self.self_time(i)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
