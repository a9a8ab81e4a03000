"""In-memory span tracer for the benchmark's own calls into the program.

Spans are recorded around each call the benchmark makes into a public
function of a layer (session, pipeline, ops.extract, the rule modules,
audit, streaming); nothing inside the program is instrumented. Each
span holds a name, start, end, parent span and trace id. Spans stay in
memory and are written out as JSON once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    trace_id: int
    parent_id: int | None
    name: str
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name} is still open")
        return self.end - self.start


class Tracer:
    """Records nested spans; ``enabled=False`` records nothing and adds
    only a generator frame per call (the untraced runs)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids),
            trace_id=parent.trace_id if parent else next(self._trace_ids),
            parent_id=parent.span_id if parent else None,
            name=name,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, name: str) -> float:
        """Summed self time of every span called ``name``: its duration
        minus the union of the intervals its direct children cover."""
        total = 0.0
        for sp in self.spans:
            if sp.name != name:
                continue
            kids = sorted(
                (c.start, c.end) for c in self.spans
                if c.parent_id == sp.span_id and c.end is not None
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            total += sp.duration - covered
        return total

    def total(self, name: str) -> float:
        return sum(sp.duration for sp in self.spans if sp.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)
