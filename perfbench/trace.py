"""In-memory spans recorded around the engine's public functions.

The benchmark never edits the engine: it replaces a function with a
wrapper at every place the function is looked up (the defining module,
each module that bound it with ``from ... import``, or a class), records
a span per call, and puts the originals back when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import clip, covered


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(clip(children.get(s.sid, []), s.start, s.end))
        for s in spans
    }


class Tracer:
    """Span recorder. Spans nest per thread and inherit the operation id
    of the span they open in; a span opened on a thread with no open span
    (a worker of a thread pool inside a timed call) hangs under ``root``
    and takes ``op``, the operation being timed."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        outer_op = getattr(self._local, "op", None)
        op = op or outer_op or self.op
        self._local.op = op
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            self._local.op = outer_op
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op, attrs))

    def current(self) -> int | None:
        """Id of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a class or module attribute)."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def patch_function(self, fn, name: str, replacement=None, prefix: str = "railgun_spark") -> int:
        """Wrap ``fn`` under every name it is bound to in the loaded
        modules whose name starts with ``prefix``; return how many.
        ``replacement``, when given, is installed as is instead (a
        wrapper that opens its own span)."""
        wrapper = replacement or self.wrap(fn, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._restore.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
                    n += 1
        if n == 0:
            raise LookupError(f"{name}: {fn!r} is bound nowhere under {prefix}")
        return n

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()
