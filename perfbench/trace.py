"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent span and operation id. Spans are
kept in memory and written out once, when the run ends. Spans come from
the benchmark's own files: around its calls into the engine, and from
wrappers it installs on engine functions for the length of a traced run.
End-to-end runs use ``NULL_TRACER``, which records nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict


_UNSET = object()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, op)
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id = 0
        self._patches: list[tuple] = []

    def reset(self) -> None:
        with self._lock:
            self.spans = []  # spans still open keep writing to the old list
            self.counters = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            spans = self.spans
            sid = len(spans)
            spans.append(None)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                spans[sid] = (sid, name, t0, t1, parent, self.op_id)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    # -- wrapping engine functions ---------------------------------------------

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` for the rest of the run; ``restore`` undoes it."""
        self._patches.append((owner, attr, vars(owner).get(attr, _UNSET)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, eager: bool = False) -> None:
        """Time every call of ``owner.attr`` as span ``name``. With
        ``eager`` the call's iterator result is consumed inside the span
        (lazy pipelines do their work while being iterated)."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if eager:
                    out = iter(list(out))
            return out

        self.patch(owner, attr, wrapped)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if orig is _UNSET:  # the attribute came from the class
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------------

    def _done(self) -> list[tuple]:
        return [s for s in self.spans if s is not None]

    def calls(self, name: str) -> int:
        return sum(1 for s in self._done() if s[1] == name)

    def busy(self, name: str) -> float:
        return sum(s[3] - s[2] for s in self._done() if s[1] == name)

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self._done() if s[1] == name]

    def self_time(self, name: str) -> float:
        """Span time of ``name`` minus the part its child spans cover."""
        spans = self._done()
        children = defaultdict(list)
        for s in spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        total = 0.0
        for s in spans:
            if s[1] != name:
                continue
            covered, end = 0.0, s[2]
            for c0, c1 in sorted(children[s[0]]):
                c0, c1 = max(c0, end), min(c1, s[3])
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            total += (s[3] - s[2]) - covered
        return total

    def dump(self, path: str) -> None:
        doc = {
            "fields": ["id", "name", "start", "end", "parent", "op"],
            "spans": self._done(),
            "counters": dict(self.counters),
        }
        with open(path, "w") as f:
            json.dump(doc, f)


class _NullTracer:
    enabled = False
    op_id = 0

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass

    def reset(self) -> None:
        pass

    def restore(self) -> None:
        pass


NULL_TRACER = _NullTracer()
