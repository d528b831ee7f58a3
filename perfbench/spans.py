"""In-memory spans recorded by the benchmark around each public call."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float                 # epoch seconds, comparable to event logs
    end: float = 0.0
    parent: Optional[int] = None
    iteration: Optional[int] = None
    counts: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Spans:
    """Nested spans of one process. A child inherits its parent's
    iteration id; ``counts`` holds what the benchmark counted at that
    boundary."""

    def __init__(self):
        self.records: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, iteration: Optional[int] = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.records), name, time.time(),
                 parent=parent.id if parent else None,
                 iteration=iteration if parent is None else parent.iteration)
        self.records.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, s: Span) -> List[Span]:
        return [c for c in self.records if c.parent == s.id]

    def descendants(self, s: Span) -> List[Span]:
        out, todo = [], [s]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out


def self_time(s: Span, children: List[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered, cur_start, cur_end = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, s.start), min(c.end, s.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return s.duration - covered
