"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, op): ``op`` groups the spans of
one user-visible operation (a query, a build, an append ...), whose own
root span is named ``op.<kind>``. Spans stay in memory until
``write()``. With tracing off, ``span()`` returns one shared no-op
context, so the untraced run executes the same code.
"""
from __future__ import annotations

import json
import time
from collections import defaultdict

_clock = time.perf_counter


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class _Span:
    __slots__ = ("tr", "name", "idx", "op", "outer_op")

    def __init__(self, tr: "Tracer", name: str, op: int | None = None):
        self.tr = tr
        self.name = name
        self.op = op

    def __enter__(self):
        tr = self.tr
        self.outer_op = tr.op_id
        if self.op is not None:
            tr.op_id = self.op
        parent = tr.stack[-1] if tr.stack else -1
        self.idx = len(tr.spans)
        tr.spans.append([self.name, _clock(), 0.0, parent, tr.op_id])
        tr.stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        tr = self.tr
        tr.spans[self.idx][2] = _clock()
        tr.stack.pop()
        tr.op_id = self.outer_op
        return False


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op_id = -1
        self._ops = 0

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL

    def op(self, kind: str):
        """Root span of a new operation."""
        if not self.enabled:
            return _NULL
        self._ops += 1
        return _Span(self, f"op.{kind}", self._ops - 1)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (a span's duration minus the
        time its children cover). The self time of ``op.*`` roots is
        the residual: operation wall not covered by any layer span."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            layer = "residual" if name.startswith("op.") else name
            out[layer] += (t1 - t0) - child[i]
        return dict(out)

    def op_wall(self) -> float:
        return sum(t1 - t0 for name, t0, t1, _, _ in self.spans
                   if name.startswith("op."))

    def write(self, path: str) -> None:
        base = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_s", "end_s", "parent", "op"],
                       "spans": [[n, round(a - base, 6), round(b - base, 6),
                                  p, o] for n, a, b, p, o in self.spans]}, f)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one nested span, in seconds."""
    tr = Tracer(True)
    t0 = _clock()
    with tr.op("probe"):
        for _ in range(n):
            with tr.span("probe"):
                pass
    return (_clock() - t0) / (n + 1)
