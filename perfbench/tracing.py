"""In-memory span tracing for the traced benchmark run.

The engine has no instrumentation of its own, so the benchmark wraps the
calls into each layer from outside: every public function and public
method of every ``ai_etl_pipeline_spark`` module, in every namespace that
binds it (``from ... import`` re-bindings and ``__spark_entry__``
included), plus the pyspark reader/writer, lineage-truncation and probe
methods. A span records name, layer, start, end, parent and the query it
belongs to. Spans stay in memory; the caller writes them out at the end.

Spans opened on threads other than the main one (pool threads of
``plans.pipeline``, streaming threads) take the innermost span open on
the main thread as their parent, so overlapping threaded children are
attributed to the call that spawned them. Self time subtracts the union
of the child intervals, never their sum.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from typing import Callable, Iterable

PACKAGE = "ai_etl_pipeline_spark"

# pyspark methods wrapped as layer boundaries: (module, class, methods, kind)
PYSPARK_BOUNDARIES = (
    ("pyspark.sql.readwriter", "DataFrameReader",
     ("parquet", "csv", "json", "orc", "load", "table"), "read"),
    ("pyspark.sql.readwriter", "DataFrameWriter",
     ("parquet", "csv", "json", "orc", "save", "saveAsTable", "insertInto"), "write"),
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ("localCheckpoint", "checkpoint", "cache", "persist"), "truncate"),
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ("count", "first", "collect", "toPandas"), "probe"),
)


class Span:
    __slots__ = ("id", "name", "layer", "kind", "start", "end", "parent",
                 "query", "phase", "error")

    def __init__(self, id, name, layer, kind, start, parent, query, phase):
        self.id = id
        self.name = name
        self.layer = layer
        self.kind = kind
        self.start = start
        self.end = None
        self.parent = parent
        self.query = query
        self.phase = phase
        self.error = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def layer_of(module_name: str) -> str | None:
    """Layer label for a package module: ``operators.<m>`` for operator
    modules, the sub-package name (``plans``, ``sources``, ``semantic``,
    ``streaming``, ``functions``) otherwise."""
    parts = module_name.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    if parts[1] == "operators" and len(parts) > 2:
        return f"operators.{parts[2]}"
    return parts[1]


_WRITE_WORDS = ("write", "upsert", "compact", "store_", "vacuum", "drop_")
_READ_WORDS = ("read", "load", "snapshot", "change_feed", "scan")


def sources_kind(module_name: str, attr: str) -> str:
    """``read`` or ``write`` for the package's source readers and writers
    (by name), ``call`` for every other function."""
    if layer_of(module_name) != "sources":
        return "call"
    if any(w in attr for w in _WRITE_WORDS):
        return "write"
    if any(w in attr for w in _READ_WORDS):
        return "read"
    return "call"


class Tracer:
    """Collects spans. ``query`` and ``phase`` label every span opened
    while they are set; the benchmark sets them around each query."""

    def __init__(self):
        self.spans: list[Span] = []
        self.query: str | None = None
        self.phase: str | None = None
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main_ident = threading.main_thread().ident
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main_ident:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str, kind: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        else:
            main = self._main_stack
            parent = main[-1].id if main and stack is not main else None
        with self._lock:
            span = Span(len(self.spans), name, layer, kind, time.time(),
                        parent, self.query, self.phase)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        elif span in stack:
            stack.remove(span)

    def wrap(self, fn: Callable, name: str, layer: str, kind: str = "call") -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name, layer, kind)
            try:
                return fn(*args, **kwargs)
            except BaseException as exc:
                span.error = (type(exc).__name__, id(exc))
                raise
            finally:
                tracer.close(span)

        traced.__perfbench_original__ = fn
        return traced


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        elif end > cur_end:
            cur_end = end
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span), so overlapping threaded children count once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in children.get(s.id, ()) if min(b, s.end) > max(a, s.start)]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


class Patch:
    """Installed wrappers; ``undo()`` restores every original binding."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def undo(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


def package_modules(package: str = PACKAGE) -> list:
    pkg = importlib.import_module(package)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer, package: str = PACKAGE) -> Patch:
    """Wrap every public function and public method of the package's
    modules, rebind the wrappers in every loaded module that binds the
    originals, and wrap the pyspark boundary methods."""
    patch = Patch()
    wrappers: dict[int, Callable] = {}
    for mod in package_modules(package):
        layer = layer_of(mod.__name__)
        if layer is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                wrappers[id(obj)] = tracer.wrap(
                    obj, f"{layer}.{attr}", layer, sources_kind(mod.__name__, attr))
            elif inspect.isclass(obj) and not getattr(obj, "_is_protocol", False):
                for mname, meth in list(vars(obj).items()):
                    if not mname.startswith("_") and inspect.isfunction(meth):
                        patch.set(obj, mname, tracer.wrap(
                            meth, f"{layer}.{attr}.{mname}", layer))
    originals = {id(w.__perfbench_original__): w.__perfbench_original__ for w in wrappers.values()}
    for mod in list(sys.modules.values()):
        namespace = getattr(mod, "__dict__", None)
        if not isinstance(namespace, dict):
            continue
        for attr, obj in list(namespace.items()):
            if id(obj) in wrappers and originals.get(id(obj)) is obj:
                patch.set(mod, attr, wrappers[id(obj)])
    for modname, clsname, methods, kind in PYSPARK_BOUNDARIES:
        cls = getattr(importlib.import_module(modname), clsname)
        for m in methods:
            patch.set(cls, m, tracer.wrap(vars(cls)[m], f"pyspark.{clsname}.{m}", "pyspark", kind))
    return patch
