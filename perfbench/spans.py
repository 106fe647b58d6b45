"""Span tracing for the benchmark's traced run.

The engine is measured from outside: :meth:`Tracer.instrument` wraps
every public function of the engine's modules (on its defining module
and on every engine module that imported it by name), and the
workloads open spans around each op's build, action and helper calls.
Nothing in the package changes. A span records its name, layer, start,
end, parent, thread and op id; spans stay in memory and are written out
once, at the end of the run (:meth:`Tracer.dump`). For the span names
given to :meth:`Tracer.watch_jobs`, the tracer also notes which Spark
jobs started while such a span was open.

A layer is the first package below ``crypto_etl_airflow_spark``
(``session``, ``sources``, ``plans``, ``operators``, ``quality``,
``pipeline``), plus ``spark`` for the actions the benchmark issues and
``bench`` for the benchmark's own root span of each op. ``functions``
and ``streaming`` are not wrapped: the first has no call boundary of
its own (its cost is inside ``spark`` actions), the second has no
workload.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass

PACKAGE = "crypto_etl_airflow_spark"
TRACED_LAYERS = ("session", "sources", "plans", "operators", "quality", "pipeline")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    thread: int
    op: str


class Tracer:
    """Collects spans and counters for one traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = ""
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        #: span name -> ids of the Spark jobs started inside such spans,
        #: for the names given to :meth:`watch_jobs`
        self.span_jobs: dict[str, list[int]] = defaultdict(list)
        self._job_spans: frozenset[str] = frozenset()
        self._job_ids: Callable[[], list[int]] = list

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        jobs_before = set(self._job_ids()) if name in self._job_spans else None
        stack = self._stack()
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent,
                                   threading.get_ident(), self.op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()
            if jobs_before is not None:
                self.span_jobs[name] += [
                    j for j in self._job_ids() if j not in jobs_before]

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def watch_jobs(self, names: tuple[str, ...],
                   job_ids: Callable[[], list[int]]) -> None:
        """Attribute to each span named in ``names`` the jobs that
        ``job_ids`` (the current op's job ids) gains while it is open."""
        self._job_spans = frozenset(names)
        self._job_ids = job_ids

    def count(self, name: str, n: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += n

    # -- instrumentation ----------------------------------------------

    def instrument(self) -> int:
        """Wrap the engine's public functions; returns how many."""
        modules = {}
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            layer = info.name.split(".")[1]
            if layer in TRACED_LAYERS:
                modules[info.name] = importlib.import_module(info.name)
        wrapped: dict[int, Callable] = {}
        for mod_name, mod in modules.items():
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod_name):
                    continue
                wrapped[id(fn)] = self._wrap(fn, mod_name)
        # rebind on every engine module that holds the function by name
        for mod in modules.values():
            for attr, obj in list(vars(mod).items()):
                new = wrapped.get(id(obj))
                if new is not None:
                    self._undo.append((mod, attr, obj))
                    setattr(mod, attr, new)
        return len(wrapped)

    def _wrap(self, fn: Callable, mod_name: str) -> Callable:
        parts = mod_name.split(".")[1:]
        layer = parts[0]
        name = ".".join(parts + [fn.__name__])

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def count_conf_writes(self) -> None:
        """Count ``spark.conf.set`` calls (posture changes and others)."""
        from pyspark.sql.conf import RuntimeConfig

        original = RuntimeConfig.set

        @functools.wraps(original)
        def counted(conf, key, value):
            self.count("session.conf_writes")
            return original(conf, key, value)

        self._undo.append((RuntimeConfig, "set", original))
        RuntimeConfig.set = counted

    def uninstrument(self) -> None:
        for owner, attr, obj in reversed(self._undo):
            setattr(owner, attr, obj)
        self._undo.clear()

    # -- analysis -----------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time covered by
        its children on the same thread (children on other threads run
        concurrently and are not subtracted)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0 and self.spans[s.parent].thread == s.thread:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return out

    def layer_self_times(self) -> dict[str, float]:
        layers = {s.name: s.layer for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for name, t in self.self_times().items():
            out[layers[name]] += t
        return out

    def calls(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s.name.startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "counts": dict(self.counts)}, f)
