"""In-memory span recorder for the traced benchmark run.

Spans are recorded only from the benchmark's own files: around the calls it
makes into each layer, and by wrapping the layers' public functions where
the calling module has bound them (``plans.pipeline.fetch_data``,
``sinks.writers.drop_void_fields``, ...). Nothing inside the program is
edited. Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children cover.

    Child intervals are clipped to the parent and merged, so overlapping or
    nested children are not subtracted twice."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
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
    return (span.end - span.start) - covered


class Tracer:
    """Records spans; ``enabled`` is False for untraced ops, so installed
    wrappers cost one attribute test there. ``fetched`` keeps, per op, the
    DataFrames the source layer returned, for counters read after the
    loop."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.fetched: dict[int, list] = {}
        self.enabled = False
        self.op_id = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.op_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module: object, attr: str, span_name: str,
             on_result=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``on_result(result, *args)`` runs after the span closes, so work it
        does is not charged to the wrapped call."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(span_name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result, *args, **kwargs)
            return result

        wrapper.__wrapped__ = original
        setattr(module, attr, wrapper)

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def layer_times(self, op_id: int) -> tuple[dict[str, float], dict[str, float]]:
        """(inclusive seconds, self seconds) per span name for one op."""
        spans = self.op_spans(op_id)
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        incl: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        for s in spans:
            incl[s.name] += s.end - s.start
            own[s.name] += self_time(s, children[s.span_id])
        return incl, own

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
