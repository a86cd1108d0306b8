"""Named spans around calls into the library, kept in memory.

A span records a name, its wall-clock start and end (epoch seconds, the
clock Spark's event log uses), the thread that opened it and its parent on
that thread. With tracing on, a span opened on the main thread also sets
the Spark job group, so every job the call submits carries the span id in
the event log. Jobs submitted from other threads (FSM's worker pool) carry
no group; ``eventlog.attribute`` places them by time window instead.

``Tracer.instrument`` temporarily wraps a library function so that each call
opens a span: that is how layers the benchmark does not call directly
(``compile_match`` inside ``count``, the ingest steps inside
``build_graph``) get their own spans. Nothing is wrapped with tracing off.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """The Spark job group id jobs under this span carry."""
        return f"perfbench-span-{self.id}"


class Tracer:
    """Records spans; with ``sc`` given, also tags Spark jobs and allows
    instrumentation. Without ``sc`` a span costs two clock reads."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread().ident

    @property
    def traced(self) -> bool:
        return self.sc is not None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sp = Span(
                id=len(self.spans),
                name=name,
                parent=stack[-1].id if stack else None,
                thread=threading.get_ident(),
                start=time.time(),
                attrs=dict(attrs),
            )
            self.spans.append(sp)
        tag = self.traced and sp.thread == self._main
        if tag:
            self._set_group(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if tag:
                self._set_group(stack[-1] if stack else None)

    def _set_group(self, sp: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group if sp else None)
        self.sc.setLocalProperty("spark.job.description", sp.name if sp else None)

    @contextlib.contextmanager
    def instrument(self, module, attr: str, span_name: str, after=None):
        """While the block runs, calls to ``module.attr`` open a span named
        ``span_name``; ``after(result, span)``, if given, runs inside that
        span (to materialize a lazy result or force its physical plan).
        It changes no result. A no-op with tracing off."""
        if not self.traced:
            yield
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as sp:
                out = original(*args, **kwargs)
                if after is not None:
                    out = after(out, sp)
                return out

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> list[Span]:
        """All spans under ``span_id`` on its own thread (by parent links)."""
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            for s in self.children(sid):
                out.append(s)
                todo.append(s.id)
        return out

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        """Spans called ``name``, optionally restricted to those that started
        inside ``within``'s time window (any thread)."""
        return [
            s for s in self.spans
            if s.name == name and s.end is not None
            and (within is None or within.start <= s.start <= within.end)
        ]
