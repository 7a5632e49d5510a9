"""In-memory spans for the traced run.

A span records its name, start, end, parent span and op id, plus the
Spark counters of the job group it ran under.  Spans stay in memory and
are written out once, when the run ends.  A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from counters import Counters, GroupStats, as_dict


@dataclass
class Span:
    name: str
    op: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    stats: GroupStats = field(default_factory=GroupStats)
    children: List[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; each span runs its block under a fresh job group."""

    def __init__(self, counters: Counters):
        self._counters = counters
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, self.op, parent, 0.0)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            with self._counters.group(name) as gid:
                sp.start = time.time()
                try:
                    yield sp
                finally:
                    sp.end = time.time()
            sp.stats = self._counters.read(gid)
        finally:
            self._stack.pop()

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        covered = GroupStats(intervals=[(self.spans[c].start,
                                         self.spans[c].end)
                                        for c in sp.children])
        return sp.duration - covered.covered_s(sp.start, sp.end)

    def per_op(self, name: str) -> Dict[int, List[int]]:
        """Span indexes with ``name``, grouped by op id."""
        out: Dict[int, List[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                out.setdefault(sp.op, []).append(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "op": sp.op,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(i), **as_dict(sp.stats)}) + "\n")
