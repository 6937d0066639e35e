"""In-memory spans and counts for the traced run.

A span is (name, start, end, parent) in seconds on the monotonic clock;
counts are named totals added at the same boundaries. Nothing touches
disk until :meth:`Tracer.dump`, which writes the sidecar once at exit.
The untraced run uses :data:`OFF`, whose calls do nothing, so the
end-to-end metrics pay for no bookkeeping.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        #: time spent inside the tracer's own bookkeeping
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, 0.0, 0.0, parent))
        self._stack.append(idx)
        start = time.perf_counter()
        self.cost_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans[idx] = (name, start, end, parent)
            self._stack.pop()
            self.cost_s += time.perf_counter() - end

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere, under the open span."""
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, start, end, parent))

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[name] += value

    def totals(self) -> dict[str, dict[str, float]]:
        """{name: {n, total_s, self_s}}: self time is a span's duration
        minus the part of it its children cover."""
        child_cover: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child_cover[parent].append((start, end))
        out: dict[str, dict[str, float]] = {}
        for idx, (name, start, end, _) in enumerate(self.spans):
            covered = _union_length(child_cover.get(idx, []), start, end)
            t = out.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["total_s"] += end - start
            t["self_s"] += (end - start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            **extra,
            "spans": [
                {"name": n, "start": s, "end": e, "parent": p}
                for n, s, e, p in self.spans
            ],
            "totals": self.totals(),
            "counts": dict(self.counts),
            "tracer_cost_s": self.cost_s,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


class _Off:
    enabled = False
    cost_s = 0.0

    @contextmanager
    def span(self, name: str):
        yield

    def add_span(self, name: str, start: float, end: float) -> None:
        pass

    def count(self, name: str, value: float = 1.0) -> None:
        pass


OFF = _Off()
