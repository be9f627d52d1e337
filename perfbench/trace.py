"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and the workload run id.
Spans stay in memory while the workload runs and are written out once
at the end. A disabled tracer records nothing, so untraced runs pay
only a context-manager enter/exit per call.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "run": self.run_id, **attrs}
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
