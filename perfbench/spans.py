"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, parent). The layer is the part of the
name before the first ``.``; ``op.*`` and ``bench.*`` spans belong to the
benchmark itself. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((sid, name, start, time.perf_counter(), parent))

    def durations(self, name: str) -> list[float]:
        return [end - start for _, n, start, end, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part its children cover (children of one parent never overlap: the
        client is single threaded)."""
        child = defaultdict(float)
        for _, _, start, end, parent in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _ in self.spans:
            out[name.split(".", 1)[0]] += (end - start) - child[sid]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s[2] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [
                    {"id": sid, "name": n, "start": s - t0, "end": e - t0, "parent": p}
                    for sid, n, s, e, p in self.spans
                ],
            }, f)

