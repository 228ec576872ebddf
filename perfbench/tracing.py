"""In-memory span tracer that wraps the program's public callables.

Spans are recorded from the benchmark's own files, around calls into
each layer; the program itself is not modified. Each span keeps its
name, start, end, parent span and op id; spans stay in memory and are
written out once, at exit. ``enabled`` is checked per call, so a run
can interleave traced and untraced ops to measure tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end)
        self.enabled = False
        self.op = -1
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> str | None:
        """Name of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1][1] if stack else None

    def wrap(self, name, fn):
        """``fn`` wrapped in a span. ``name`` is a string or a callable
        (args, kwargs) -> str | None; None records no span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            if not tracer.enabled or label is None:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else 0
            stack.append((sid, label))
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                tracer.spans.append((sid, parent, tracer.op, label, start, end))

        return traced

    def patch(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a traced wrapper (undone by
        ``unpatch_all``). Functions imported by name into another
        module must be patched in that module."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- analysis ------------------------------------------------------

    def per_op(self, op: int) -> dict[str, dict[str, float]]:
        """{span name: {"total": inclusive ms, "self": self ms,
        "count": n}} over one op's spans. Self time is the span's
        duration minus the part its direct children cover."""
        spans = [s for s in self.spans if s[2] == op]
        child_ms: dict[int, float] = {}
        for sid, parent, _, _, start, end in spans:
            child_ms[parent] = child_ms.get(parent, 0.0) + (end - start) * 1e3
        out: dict[str, dict[str, float]] = {}
        for sid, _, _, name, start, end in spans:
            ms = (end - start) * 1e3
            agg = out.setdefault(name, {"total": 0.0, "self": 0.0, "count": 0})
            agg["total"] += ms
            agg["self"] += ms - child_ms.get(sid, 0.0)
            agg["count"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, name, start, end in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                     "name": name, "start": start,
                                     "end": end}) + "\n")
