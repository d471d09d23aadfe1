"""In-memory span tracer for the traced benchmark run.

Spans are opened from the benchmark's own code (one root span per
operation, with the facade call and the result action as children) and by
timing wrappers installed around the public functions of the engine's layer
modules. Every Spark job is attributed to the innermost span open when it
was submitted: there is one client thread, so jobs are synchronous, and the
jobs launched between two span boundaries belong to the span that was
innermost in that interval. The job counter is the DAG scheduler's next job
id, read once per boundary.

Nothing here changes what the engine computes: the wrappers only time calls,
and pickle back to the wrapped function, so a wrapped function captured in
a UDF closure ships to Python workers unchanged.
"""

from __future__ import annotations

import importlib
import inspect
import operator
import sys
import time
from dataclasses import dataclass, field

# The layer modules whose public functions are wrapped; the short name is the
# layer name used in the metrics (``ann.construct_ms``, ``tables.publish_ms``).
LAYER_MODULES = {
    "search": "grape_vector_db_spark.operators.search",
    "ann": "grape_vector_db_spark.operators.ann",
    "quantization": "grape_vector_db_spark.operators.quantization",
    "sparse": "grape_vector_db_spark.operators.sparse",
    "fusion": "grape_vector_db_spark.operators.fusion",
    "filters": "grape_vector_db_spark.operators.filters",
    "payload": "grape_vector_db_spark.operators.payload",
    "tables": "grape_vector_db_spark.sources.tables",
    "planner": "grape_vector_db_spark.plans.planner",
}
PACKAGE = "grape_vector_db_spark"


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class _Traced:
    """Callable stand-in for a module function: times each call as a span.

    ``__reduce__`` returns the wrapped function itself, so pickling the
    stand-in (cloudpickle shipping a closure to a Python worker) yields the
    original function, importable on the worker."""

    def __init__(self, tracer: "Tracer", fn, name: str) -> None:
        self.tracer, self.fn, self.span_name = tracer, fn, name
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.span_name) as s:
            out = self.fn(*args, **kwargs)
            if self.span_name == "planner.choose_search_strategy":
                s.attrs["strategy"] = out.strategy
            return out

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


class Tracer:
    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_jobs = self._dag.nextJobId()
        self._patched: list[tuple[object, str, object]] = []
        # time spent opening and closing spans (the job counter is a py4j
        # round trip): what tracing adds to the operations' walls
        self.own_s = 0.0

    # -- spans ---------------------------------------------------------------

    def _attribute_jobs(self) -> None:
        nxt = self._dag.nextJobId()
        if nxt > self._seen_jobs and self._stack:
            self.spans[self._stack[-1]].jobs.extend(range(self._seen_jobs, nxt))
        self._seen_jobs = nxt

    def span(self, name: str, **attrs) -> "_SpanScope":
        return _SpanScope(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        t0 = time.perf_counter()
        self._attribute_jobs()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.own_s += time.perf_counter() - t0
        return s

    def _close(self, s: Span) -> None:
        t0 = time.perf_counter()
        self._attribute_jobs()
        s.end = time.perf_counter()
        self._stack.pop()
        self.own_s += time.perf_counter() - t0

    # -- wrappers -------------------------------------------------------------

    def install(self) -> int:
        """Wrap every public function defined in a layer module, in the
        module itself and wherever another engine module bound it by
        ``from ... import``. Returns the number of functions wrapped."""
        wrapped: dict[int, _Traced] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                wrapped[id(fn)] = _Traced(self, fn, f"{layer}.{name}")
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname == PACKAGE or modname.startswith(PACKAGE + ".")
            ):
                continue
            for name, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None and w.fn is val:
                    self._patched.append((mod, name, val))
                    setattr(mod, name, w)
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._patched):
            setattr(mod, name, val)
        self._patched.clear()

    # -- analysis -------------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_ms(self, i: int, kids: dict[int, list[int]]) -> float:
        """Span duration minus the time its child spans cover (children of
        one span never overlap: there is one thread)."""
        covered = sum(self.spans[c].ms for c in kids.get(i, ()))
        return self.spans[i].ms - covered


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)

