"""In-memory span recorder for the traced run.

A span is ``(id, parent, layer, name, start, end)`` with times in epoch
seconds, the clock Spark's own progress reports use. Spans are recorded
around the benchmark's own calls into each engine layer, or built
afterwards from what Spark reports (trigger ``durationMs`` parts, stage
submission and completion times). They stay in memory and are written out
once, when the run ends.

A layer's self time is the time its spans cover minus the part of it their
child spans cover. The tracer also counts the time spent in its own
bookkeeping: that is the tracing overhead a traced run reports. With
tracing off, :class:`NullTracer` records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, layer: str, name: str):
        yield None

    def add(self, layer, name, start, end, parent=None):
        return None


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, str, float, float]] = []
        self._stack: list[int] = []
        self.own_s = 0.0

    def _parent(self, parent):
        if parent is not None:
            return parent
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append((sid, self._parent(None), layer, name, time.time(), 0.0))
        self._stack.append(sid)
        self.own_s += time.perf_counter() - t0
        try:
            yield sid
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = (*s[:5], time.time())
            self.own_s += time.perf_counter() - t0

    def add(self, layer, name, start, end, parent=None):
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append((sid, self._parent(parent), layer, name, start, end))
        self.own_s += time.perf_counter() - t0
        return sid

    def self_time(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's own children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sid, parent, _layer, _name, start, end in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out: dict[str, float] = {}
        for sid, _parent, layer, _name, start, end in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for cs, ce in sorted(children.get(sid, [])):
                cs, ce = max(cs, start), min(ce, end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[layer] = out.get(layer, 0.0) + max(0.0, (end - start) - covered)
        return out

    def write(self, path) -> None:
        rows = [
            {"id": s, "parent": p, "layer": layer, "name": name, "start": a, "end": b}
            for s, p, layer, name, a, b in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f)
