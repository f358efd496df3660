"""In-memory span tracer that observes the engine from outside.

``Tracer.install()`` wraps every public function of the engine's layer
modules (``sources``, ``operators``, ``plans``, ``streaming.*`` and
``session``) by replacing the module attributes that refer to it, in
every loaded engine module, so calls made through a ``from ... import``
binding are seen too. No engine file changes.

A span records name, layer, start and end (wall-clock epoch seconds, so
they line up with Spark's event-log timestamps), thread, parent and op
id. Spans stay in memory until the run ends. A thread with no open span
of its own (the streaming query's ``foreachBatch`` callback thread) takes
the innermost open span of the main thread as its parent, so store
writes nest under the pipeline call that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "feature_store_2_spark"

# Module prefix -> layer name, most specific first.
LAYERS = (
    (f"{PKG}.streaming.sharded_store", "sharded_store"),
    (f"{PKG}.streaming.grants_store", "grants_store"),
    (f"{PKG}.streaming", "streaming"),
    (f"{PKG}.sources", "sources"),
    (f"{PKG}.operators", "operators"),
    (f"{PKG}.plans", "plans"),
    (f"{PKG}.session", "session"),
)


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYERS:
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


@dataclass
class Span:
    name: str
    layer: str
    start: float
    thread: int
    parent: int | None
    op: int | None
    sid: int
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; wrappers call straight through
    otherwise, so one process can interleave traced and untraced work."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        # qualname -> fn(span, args, kwargs), run after a traced call
        self.hooks: dict[str, object] = {}
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(name, layer, time.time(), threading.get_ident(), parent, self.op, len(self.spans))
            self.spans.append(span)
            if parent is not None:
                self.spans[parent].children.append(span.sid)
        stack.append(span.sid)
        return span

    def finish(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] == span.sid:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around the ``with`` body (nothing when disabled)."""
        span = self.begin(name, layer)
        try:
            yield span
        finally:
            self.finish(span)

    # -- wrapping -----------------------------------------------------
    def _wrap(self, fn, qualname: str, layer: str):
        tracer = self
        hook = self.hooks.get(qualname)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.begin(qualname, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.finish(span)
            if span is not None and hook is not None:
                hook(span, args, kwargs)
            return out

        return wrapper

    def install(self) -> int:
        """Wrap every public engine-layer function; return how many."""
        originals: dict[int, object] = {}
        for modname, mod in list(sys.modules.items()):
            layer = layer_of(modname)
            if layer is None or mod is None:
                continue
            for attr, obj in vars(mod).items():
                if inspect.isfunction(obj) and not attr.startswith("_") and obj.__module__ == modname:
                    qual = f"{modname[len(PKG) + 1:]}.{attr}"
                    originals[id(obj)] = self._wrap(obj, qual, layer)
        # Rebind every reference held by an engine module (including
        # ``from x import f`` copies in the query modules).
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    setattr(mod, attr, w)
        return len(originals)


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = [
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children
        if spans[c].end > 0
    ]
    return span.dur - union_len([k for k in kids if k[1] > k[0]])


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        if s.end > 0:
            out[s.layer] = out.get(s.layer, 0.0) + self_time(spans, s)
    return out

