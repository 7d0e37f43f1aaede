"""In-memory span tracing, self-time arithmetic and timing statistics.

A span is one timed call into a layer of the program, recorded from the
benchmark's own code: its name (``<module>.<call>``), start, end, the
span that caused it, and the operation it belongs to (a label such as
``op3``, or ``None``). Spans stay in memory and are written out once,
at the end of a run.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterable, Optional


@dataclass
class Span:
    id: int
    name: str
    op: Optional[str]
    parent: Optional[int]
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. While ``enabled`` is false, ``span`` records
    nothing, so an untraced operation pays only a context-manager call."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.op: Optional[str] = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def total(self, name: str, op: Optional[str] = None) -> float:
        """Summed duration of the spans called ``name`` in ``op``."""
        return sum(s.duration for s in self.spans if s.name == name and s.op == op)

    def write(self, path) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps merged)."""
    spans = list(spans)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        run_start = run_end = None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
        ):
            if b <= a:
                continue
            if run_end is None or a > run_end:
                if run_end is not None:
                    covered += run_end - run_start
                run_start, run_end = a, b
            else:
                run_end = max(run_end, b)
        if run_end is not None:
            covered += run_end - run_start
        out[s.id] = s.duration - covered
    return out


def layer_self_times(spans: Iterable[Span]) -> dict[Optional[str], dict[str, float]]:
    """``{op: {span name: summed self time}}`` — within one op the values
    add up to the op's root span duration."""
    spans = list(spans)
    own = self_times(spans)
    out: dict[Optional[str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s.op][s.name] += own[s.id]
    return out


def median(values: Iterable[float]) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
