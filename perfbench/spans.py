"""Runtime span tracer for the traced benchmark run.

The tracer wraps public functions of ``lsd2_spark`` modules (and the
pyspark actions they end in) at run time; no source file of the engine
is edited.  A wrapper records a span only inside an operation span
opened on the same thread, so untraced operations run through it
unrecorded.  Each span records its name, start, end, parent span and
the operation it belongs to; counts are attached to spans at the same
boundaries.  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)
    data: dict = field(default_factory=dict)  # arrays kept for derived counts

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans from any number of threads; each thread keeps its
    own span stack, and the operation id given to an outer :meth:`span`
    tags every span opened beneath it."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.own_s = 0.0  # time the wrappers spend outside the wrapped calls

    # -- span recording ------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        st = self._stack()
        parent = st[-1] if st else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), parent.sid if parent else None, op, name, time.perf_counter())
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    # -- runtime wrapping ----------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``.

        For a module-level function, every already-imported module of
        the engine that bound the same function object by ``from ...
        import`` is patched too, so call sites inside the engine see the
        wrapper.  ``on_result(tracer, args, kwargs, result)`` records
        counts while the span is still open."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer._stack():
                return orig(*args, **kwargs)
            e0 = time.perf_counter()
            with tracer.span(name):
                c0 = time.perf_counter()
                result = orig(*args, **kwargs)
                c1 = time.perf_counter()
                if on_result is not None:
                    on_result(tracer, args, kwargs, result)
            own = c0 - e0 + time.perf_counter() - c1
            with tracer._lock:
                tracer.own_s += own
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("lsd2_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        for t, attr, orig in reversed(self._patches):
            setattr(t, attr, orig)
        self._patches.clear()

    # -- derived numbers -----------------------------------------------------

    def self_time(self, s: Span) -> float:
        """Span duration minus the time its direct child spans of the
        engine cover.  Engine actions (``spark.*`` spans) inside a layer
        count as the layer's own work.  Spans of one thread nest, so
        direct children never overlap."""
        return s.dur - sum(c.dur for c in self.spans
                           if c.parent == s.sid and not c.name.startswith("spark."))

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
             "start": s.t0, "end": s.t1, "counts": s.counts}
            for s in sorted(self.spans, key=lambda s: s.t0)
        ]
