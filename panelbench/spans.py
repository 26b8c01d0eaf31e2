"""In-memory spans around the benchmark's calls into the package.

A span records name, start, end and its parent (the request it belongs
to). Spans stay in memory until the run ends. While a span is open, the
calling thread's Spark job group names it, so a live Spark UI or an event
log reader can see which call a job came from.
"""

from __future__ import annotations

import contextlib
import time
from typing import List, Optional

from eventlog import Span


class Tracer:
    """Collects spans. A disabled tracer does nothing, so the untraced
    timed path runs the same code with no recording."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self._open: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent: Optional[int] = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time() * 1000.0, 0.0, parent))
        self._open.append(idx)
        self.sc.setJobGroup(f"{name}#{idx}", name)
        try:
            yield
        finally:
            self.spans[idx].end_ms = time.time() * 1000.0
            self._open.pop()
            if self._open:
                outer = self.spans[self._open[-1]]
                self.sc.setJobGroup(
                    f"{outer.name}#{self._open[-1]}", outer.name
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
