"""In-memory span recorder for the traced run.

A span has a name, start, end, parent and run id. Spans are kept in a
list and written out once, at exit. A disabled tracer hands out a shared
no-op context manager, so the untraced run pays one attribute lookup per
call site.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)
