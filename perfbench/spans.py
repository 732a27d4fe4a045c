"""In-memory spans recorded around the calls into each engine layer.

A span has a name, start, end, parent span and request id. The request id
is the HTTP jobid for a served workflow and the pass id for a batch pass;
it is carried per thread, like Spark's job group. Spans stay in memory
until the run writes them out at exit.

`Tracer(enabled=False)` keeps the same call sites but records nothing:
`wrap` returns the function itself and `span` only yields.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_seconds(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- per-thread context -------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def request(self, rid: str):
        """Attribute every span opened on this thread to request `rid`."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None,
                                   getattr(self._local, "rid", None)))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, name: str, fn):
        """`fn` with a span named `name` around every call."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- queries --------------------------------------------------------------
    def by_request(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.request is not None:
                out.setdefault(s.request, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
