"""Span recording around the package's public functions, from outside it.

``Tracer.install()`` imports every module of ``vscode_parquet_visualizer_spark``
and replaces each public module-level function, and each public method
(plus ``__init__``) of each class defined there, by a wrapper that records
one span per call: name, layer, start, end, parent span, op id. Every
module namespace that imported the same function object by name is
re-pointed at the wrapper too, so ``from x import f`` call sites are
traced. No package file changes.

A wrapper keeps the wrapped function's ``__module__`` and
``__qualname__``, and the module attribute now *is* the wrapper, so a
wrapper that reaches a Spark UDF pickles by reference and the worker
imports the original function: executors never run tracing code.
Generator functions are left alone (their body runs after the call
returns, so a span would time nothing).

Layers are the package's top-level modules: ``session``, ``sources``,
``plans``, ``engine``, ``operators``, ``functions``, ``streaming`` and
``workload``. A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import time

PACKAGE = "vscode_parquet_visualizer_spark"
LAYERS = (
    "session", "sources", "plans", "engine",
    "operators", "functions", "streaming", "workload",
)

# span record fields (lists, not objects: cheap to create in the hot path)
NAME, LAYER, START, END, PARENT, OP = range(6)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op: int | None = None  # id of the op in flight, set by the caller
        self.wrapped = 0

    # -- recording -------------------------------------------------------
    def begin(self, name: str, layer: str) -> list:
        rec = [name, layer, time.perf_counter(), 0.0,
               self._stack[-1] if self._stack else -1, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[END] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = self.begin(name, layer)
        try:
            yield
        finally:
            self.end(rec)

    def _wrap(self, fn, name: str, layer: str):
        begin, end = self.begin, self.end

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                end(rec)

        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        pkg = importlib.import_module(PACKAGE)
        modules = [pkg] + [
            importlib.import_module(info.name)
            for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")
        ]
        replaced: dict[int, object] = {}
        for mod in modules:
            rel = mod.__name__[len(PACKAGE) + 1:]
            if not rel:
                continue
            layer = rel.split(".")[0]
            for attr, obj in list(vars(mod).items()):
                if getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and _traceable(attr, obj):
                    wrapper = self._wrap(obj, f"{rel}.{attr}", layer)
                    replaced[id(obj)] = wrapper
                    setattr(mod, attr, wrapper)
                elif inspect.isclass(obj) and not attr.startswith("_"):
                    for meth, fn in list(vars(obj).items()):
                        if inspect.isfunction(fn) and (
                            meth == "__init__" or _traceable(meth, fn)
                        ):
                            setattr(obj, meth, self._wrap(
                                fn, f"{rel}.{attr}.{meth}", layer))
                            self.wrapped += 1
        self.wrapped += len(replaced)
        # re-point `from module import fn` bindings at the wrappers
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                wrapper = replaced.get(id(obj))
                if wrapper is not None and wrapper is not obj:
                    setattr(mod, attr, wrapper)

    # -- per-call overhead, for trace.overhead_pct ------------------------
    def span_cost_s(self, calls: int = 50_000) -> float:
        """Seconds one traced call adds over a bare call (min of 3)."""
        def bare():
            return None

        traced = Tracer()._wrap(bare, "calibrate", "bench")
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in range(calls):
                bare()
            t1 = time.perf_counter()
            for _ in range(calls):
                traced()
            t2 = time.perf_counter()
            best = min(best, ((t2 - t1) - (t1 - t0)) / calls)
        return max(best, 0.0)


def _traceable(name: str, fn) -> bool:
    return not name.startswith("_") and not (
        inspect.isgeneratorfunction(fn) or inspect.isasyncgenfunction(fn)
    )


def self_times(spans: list[list]) -> list[float]:
    """Self time of each span: its duration minus its children's."""
    out = [s[END] - s[START] for s in spans]
    for s in spans:
        if s[PARENT] >= 0:
            out[s[PARENT]] -= s[END] - s[START]
    return out
