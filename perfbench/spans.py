"""Spans around public calls of the engine, kept in memory for one session.

A span records name, start, end (epoch seconds, the clock the Spark event
log stamps jobs with), its parent span and its thread. `install()` wraps:

  dedup.io.Warehouse.write          span "write:<stage>", plus the manifest's
                                    exec_ms, rows and wall_ms
  dedup.pipeline.connected_components
                                    span "connected_components" (the driver
                                    union-find runs eagerly inside it)
  dedup.deploy.ensure_shipped       span "deploy.ensure_shipped"

A disabled recorder installs nothing and its span() is a no-op, so an
untraced session runs the engine's code unmodified."""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's outermost
        # open span (the operation), not under whichever write is open there
        parent = stack[-1] if stack else (self._main_stack[0] if self._main_stack else None)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent,
               "thread": threading.current_thread().name, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def install(self) -> None:
        from dedup import deploy, io, pipeline

        write = io.Warehouse.write

        @functools.wraps(write)
        def traced_write(wh, df, stage, *a, **kw):
            with self.span(f"write:{stage}", stage=stage) as rec:
                man = write(wh, df, stage, *a, **kw)
                rec.update(exec_ms=man["exec_ms"], rows=man["row_count"], wall_ms=man["wall_ms"])
                return man

        io.Warehouse.write = traced_write
        pipeline.connected_components = self._wrap(pipeline.connected_components, "connected_components")
        deploy.ensure_shipped = self._wrap(deploy.ensure_shipped, "deploy.ensure_shipped")

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner
