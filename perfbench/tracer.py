"""In-memory span tracer installed around the package's public functions.

``Tracer.install`` wraps, from the outside, every public function and
every public method of every public class defined in the given modules,
and rebinds names other package modules imported with ``from x import
f``.  Each call records a span ``[name, layer, start, end, parent, op]``
in a list; the benchmark opens one op span per operation, so all spans of
one operation share its op id.  Hooks attached to a few span names record
counts (manifest entries, files copied, ...) where the work happens.

Self time of a span is its duration minus the durations of its direct
children (children of one span never overlap: the package is
single-threaded on the driver).
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "iceberg_hybrid_spark"

# span record fields
NAME, LAYER, START, END, PARENT, OP = range(6)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = False
        self.op_id: int | None = None
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._hooks: dict[str, object] = {}
        self.wrapped = 0

    # ---- recording ---------------------------------------------------------

    def _open(self, name: str, layer: str) -> list:
        rec = [name, layer, time.perf_counter(), 0.0,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[END] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = self._open(name, layer)
        try:
            yield
        finally:
            self._close(rec)

    def count(self, key: str, value: float) -> None:
        self.counters[key].append(value)

    def on(self, span_name: str, hook) -> None:
        """Run ``hook(tracer, args, kwargs, result)`` after each traced call
        of ``span_name``, with tracing paused so the hook leaves no spans."""
        self._hooks[span_name] = hook

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            rec = self._open(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(rec)
            hook = self._hooks.get(name)
            if hook is not None:
                self.enabled = False
                try:
                    hook(self, args, kwargs, result)
                finally:
                    self.enabled = True
            return result

        self.wrapped += 1
        return traced

    # ---- installation ------------------------------------------------------

    def install(self, modules) -> int:
        """Wrap the public surface of ``modules``; returns the number of
        callables wrapped."""
        replaced: dict[int, object] = {}
        for mod in modules:
            layer = mod.__name__.removeprefix(PACKAGE + ".")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self._wrap(obj, f"{layer}.{attr}", layer)
                    setattr(mod, attr, wrapped)
                    replaced[id(obj)] = wrapped
                elif inspect.isclass(obj):
                    self._wrap_class(obj, layer)
        # rebind `from module import fn` copies held by other package modules
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in replaced and obj is not replaced[id(obj)]:
                    setattr(mod, attr, replaced[id(obj)])
        return self.wrapped

    def _wrap_class(self, cls, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{layer}.{cls.__name__}.{attr}"
            if isinstance(raw, staticmethod):
                setattr(cls, attr, staticmethod(self._wrap(raw.__func__, name, layer)))
            elif isinstance(raw, classmethod):
                setattr(cls, attr, classmethod(self._wrap(raw.__func__, name, layer)))
            elif inspect.isfunction(raw):
                setattr(cls, attr, self._wrap(raw, name, layer))

    # ---- operations --------------------------------------------------------

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One benchmark operation: an op span plus the op id every span
        under it carries."""
        if not self.enabled:
            yield
            return
        self.op_id = op_id
        rec = self._open(f"op.{kind}", "bench")
        try:
            yield
        finally:
            self._close(rec)
            self.op_id = None

    # ---- analysis ----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Self time (s) of every span, by index."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec[PARENT] is not None:
                child[rec[PARENT]] += rec[END] - rec[START]
        return [rec[END] - rec[START] - child[i] for i, rec in enumerate(self.spans)]

    def dump(self, path: str) -> None:
        """Write every span as one tab-separated line."""
        with open(path, "w") as fh:
            fh.write("name\tlayer\tstart\tend\tparent\top\n")
            for rec in self.spans:
                fh.write("\t".join("" if v is None else str(v) for v in rec) + "\n")
