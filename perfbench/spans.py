"""In-memory spans around calls into the program's layers.

A span records its name, the pass it belongs to, its enclosing span,
its wall interval (epoch seconds, the clock Spark's event log uses) and
the CPU the whole process tree spent inside it. Spans are only recorded
while `enabled` is set; `wrap` patches a program function so that each
call opens a span, and `restore` undoes every patch.
"""

from __future__ import annotations

import contextlib
import functools
import time

from . import procstat


class Tracer:
    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.enabled = False
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent recording spans
        self._stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        rec = {"name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        cpu0 = procstat.tree_cpu_s(self.root_pid)
        self._stack.append(name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["wall_s"] = t1 - t0
            rec["cpu_s"] = procstat.tree_cpu_s(self.root_pid) - cpu0
            rec["end"] = time.time()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name_of, after=None) -> None:
        """Replace owner.attr by a spanned call. name_of(*args, **kw)
        names the span; after(rec, result, *args, **kw) may annotate it."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def spanned(*args, **kw):
            with self.span(name_of(*args, **kw)) as rec:
                result = inner(*args, **kw)
                if rec is not None and after is not None:
                    after(rec, result, *args, **kw)
                return result

        self._patches.append((owner, attr, inner))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        while self._patches:
            owner, attr, inner = self._patches.pop()
            setattr(owner, attr, inner)
