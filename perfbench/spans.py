"""In-memory spans: workload -> pass -> op -> build / action.

Every span is timed, traced or not, because the walls are the
benchmark's end-to-end numbers.  Only a traced run keeps the spans and
writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    kind: str  # workload | pass | op | build | action
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(f"s{next(self._ids)}", name, kind, parent, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self, roots: set[str]) -> dict[str, float]:
        """Seconds per span kind not covered by that span's children,
        over the spans in the subtrees of ``roots``."""
        parent = {s.span_id: s.parent for s in self.spans}

        def under(span_id):
            while span_id is not None and span_id not in roots:
                span_id = parent.get(span_id)
            return span_id is not None

        spans = [s for s in self.spans if under(s.span_id)]
        covered: dict[str, float] = {}
        for s in spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.wall
        out: dict[str, float] = {}
        for s in spans:
            own = s.wall - covered.get(s.span_id, 0.0)
            out[s.kind] = out.get(s.kind, 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **extra},
                f,
                indent=1,
                default=str,
            )
