"""In-memory spans around the benchmark's calls into the library.

A span records its name, start, end, parent and op id. Spans stay in
memory and are returned when the run ends. The untraced run uses
:class:`NoTrace`, whose ``span`` is a shared null context.
"""

from __future__ import annotations

import contextlib
import dataclasses
import time


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()


class NoTrace:
    enabled = False
    spans: list[Span] = []

    def span(self, name: str, op: int | None = None):
        return contextlib.nullcontext()


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover.

    Children of one parent run one after another on the single client
    thread, but their covered interval is merged anyway so overlapping
    children are never subtracted twice."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.sid] = (s.end - s.start) - covered
    return out


def check_nesting(spans: list[Span]) -> list[str]:
    """Violations of the trace arithmetic: a child outside its parent's
    interval, a span ending before it starts, a negative self time."""
    by_id = {s.sid: s for s in spans}
    errs = []
    for s in spans:
        if s.end < s.start:
            errs.append(f"span {s.name}#{s.sid} ends before it starts")
        if s.parent is not None:
            p = by_id[s.parent]
            if s.start < p.start or s.end > p.end:
                errs.append(f"span {s.name}#{s.sid} lies outside parent {p.name}#{p.sid}")
    for sid, st in self_times(spans).items():
        if st < -1e-9:
            errs.append(f"span {by_id[sid].name}#{sid} has self time {st}")
    return errs
