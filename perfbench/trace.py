"""In-memory span recorder for the traced run.

A span has an id, a parent id, a name, a start and an end (seconds since
the run started) and free-form attributes. Spans are kept in memory and
written once, at the end of the run. When the tracer is disabled every call
is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0  # time.perf_counter() at run start
        self.wall_offset = time.time() - time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def _open(self, name: str, parent: int | None, attrs: dict) -> dict:
        """A new span record; its parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": None, "end": None, "attrs": attrs}
        self.spans.append(rec)
        return rec

    def add_wall(self, name: str, start: float, end: float, parent: int | None = None,
                 **attrs) -> int | None:
        """Record an already-timed span given in seconds since the epoch
        (micro-batch progress, sink commit markers)."""
        if not self.enabled:
            return None
        c0 = time.perf_counter()
        rec = self._open(name, parent, attrs)
        rec["start"] = start - self.wall_offset - self.t0
        rec["end"] = end - self.wall_offset - self.t0
        self.overhead_s += time.perf_counter() - c0
        return rec["id"]

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        rec = self._open(name, None, attrs)
        self._stack.append(rec["id"])
        start = time.perf_counter()
        self.overhead_s += start - c0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["start"], rec["end"] = start - self.t0, end - self.t0
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def self_times(self) -> dict[str, float]:
        """Seconds of each span name not covered by its children (children
        of one span do not overlap each other)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, f)
