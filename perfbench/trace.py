"""Traced-run harness: timing wrappers installed from outside the engine.

``Tracer.install()`` replaces public functions of ``dbsyncer_spark``
modules, at runtime, with wrappers that record one span per call: name,
layer, start, end, parent span, client operation id and Spark job group.
Nothing under ``dbsyncer_spark/`` changes, and ``uninstall()`` puts every
original back.

A function is rebound everywhere it is bound: on its class, in its own
module and in every ``dbsyncer_spark`` module that imported it by name.
A wrapper pickles as a lookup of the original by module and name, so a
closure shipped to a Python worker carries the plain function, not the
tracer.

Spans of functions that can launch Spark jobs set a job group of their
own; once the traced work is over, ``attach_jobs`` asks the
``statusTracker`` which jobs and tasks ran under each group.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import operator
import sys
import time
from dataclasses import asdict, dataclass

#: (module, attribute path, launches Spark jobs) — the layer of a span is
#: its module path below ``dbsyncer_spark``
TARGETS = (
    ("session", "get_spark", True),
    ("session", "warm_python_workers", True),
    ("index.build", "build_index", True),
    ("index.build", "append_segment", True),
    ("functions.tokenizer", "tokenize_py", False),
    ("index.codec", "unpack_blocks", False),
    ("query.parser", "parse_query", False),
    ("index.search", "SearchIndex.lookup", False),
    ("index.search", "SearchIndex.search_rows", True),
    ("index.search", "SearchIndex.search", True),
    ("index.search", "SearchIndex.search_parsed", True),
    ("index.search", "SearchIndex.search_many", True),
    ("index.search", "SearchIndex.warm_local", True),
    ("index.search", "SearchIndex.warm", True),
    ("index.search", "SearchIndex.warm_driver_dictionary", True),
    ("index.search", "SearchIndex.refresh", True),
    ("streaming.incremental", "update_docs", True),
    ("streaming.incremental", "delete_docs", True),
    ("streaming.incremental", "maybe_merge", True),
    ("sources.cdc", "replay_changed_events", True),
    ("sources.cdc", "tail_changed_events", False),
    ("index.coordination", "PosixRenameCommitter.commit", False),
)
#: context-manager factories whose ``__enter__`` (the wait to acquire) is the span
ENTER_TARGETS = (("index.coordination", "FlockLock.lock", "lock_wait"),)

PKG = "dbsyncer_spark"


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<function>", e.g. "index.search.search_rows"
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None = None
    error: str | None = None
    jobs: int = 0
    tasks: int = 0


def _restore(module: str, path: str):
    return operator.attrgetter(path)(importlib.import_module(module))


class _Traced:
    """Callable standing in for one engine function."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str, jobs: bool,
                 module: str, path: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer
        self._jobs, self._module, self._path = jobs, module, path

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        span = tr.open(self._name, self._layer, self._jobs)
        try:
            return self._fn(*args, **kwargs)
        except BaseException as e:
            span.error = type(e).__name__
            raise
        finally:
            tr.close(span)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (_restore, (self._module, self._path))


class _TracedEnter:
    """Wraps a context-manager factory so that acquiring it is a span."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str, module: str, path: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer
        self._module, self._path = module, path

    def __call__(self, *args, **kwargs):
        cm = self._fn(*args, **kwargs)
        tracer, name, layer = self._tracer, self._name, self._layer

        class _Timed:
            def __enter__(self_):
                span = tracer.open(name, layer, False)
                try:
                    return cm.__enter__()
                finally:
                    tracer.close(span)

            def __exit__(self_, *exc):
                return cm.__exit__(*exc)

        return _Timed()

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (_restore, (self._module, self._path))


class Tracer:
    """In-memory span recorder. Spans stay in memory until ``write``."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self._spark = None
        self.op: int | None = None  # current client operation id
        self.op_kinds: dict[int, str] = {}  # client operation id -> op kind

    # -- recording ------------------------------------------------------
    def open(self, name: str, layer: str, jobs: bool) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), name, layer, time.perf_counter(), 0.0,
                    parent.id if parent else None, self.op)
        if jobs and self._spark is not None:
            span.group = f"perfbench-{span.id}"
            self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", span.group)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if span.group is not None:
            outer = next((s.group for s in reversed(self._stack) if s.group), None)
            self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", outer)
        self.spans.append(span)

    def client(self, name: str):
        """A span for work the client itself does (e.g. ``collect``)."""
        tracer = self

        class _Client:
            def __enter__(self_):
                self_.span = tracer.open(name, "client", True)

            def __exit__(self_, *exc):
                tracer.close(self_.span)

        return _Client()

    # -- installation ---------------------------------------------------
    def bind_spark(self, spark) -> None:
        self._spark = spark

    def install(self, layers: set[str] | None = None) -> None:
        for layer, path, jobs in TARGETS:
            if layers is None or layer in layers:
                self._patch(layer, path, lambda fn, n, m, p, j=jobs: _Traced(
                    self, fn, n, layer_of(m), j, m, p))
        for layer, path, short in ENTER_TARGETS:
            if layers is None or layer in layers:
                self._patch(layer, path, lambda fn, n, m, p, s=short: _TracedEnter(
                    self, fn, f"{layer_of(m)}.{s}", layer_of(m), m, p))

    def _patch(self, layer: str, path: str, make) -> None:
        module = f"{PKG}.{layer}"
        mod = importlib.import_module(module)
        owner_path, _, attr = path.rpartition(".")
        owner = operator.attrgetter(owner_path)(mod) if owner_path else mod
        fn = getattr(owner, attr)
        wrapper = make(fn, f"{layer}.{attr}", module, path)
        owners = [owner]
        if not owner_path:  # a module function: rebind every `from x import f`
            owners += [m for name, m in list(sys.modules.items())
                       if name.startswith(PKG) and m is not mod
                       and getattr(m, attr, None) is fn]
        for o in owners:
            self._patches.append((o, attr, fn))
            setattr(o, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        # a module first imported while tracing bound the wrapper by name
        for name, m in list(sys.modules.items()):
            if name.startswith(PKG):
                for attr, v in list(vars(m).items()):
                    if isinstance(v, (_Traced, _TracedEnter)) and v._tracer is self:
                        setattr(m, attr, v._fn)
        self._patches.clear()

    # -- results --------------------------------------------------------
    def attach_jobs(self) -> None:
        """Fill ``jobs``/``tasks`` of every grouped span from the tracker."""
        if self._spark is None:
            return
        st = self._spark.sparkContext.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            ids = list(st.getJobIdsForGroup(s.group))
            s.jobs = len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    s.tasks += stage.numTasks if stage else 0

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            if extra is not None:
                f.write(json.dumps({"summary": extra}) + "\n")
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_of(module: str) -> str:
    return module[len(PKG) + 1:]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Layer self time per span: its duration minus the part of its
    interval covered by child spans of another layer. Children of the
    same layer are the layer's own work and stay in."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in _other_layer_descendants(s, children))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def _other_layer_descendants(span: Span, children: dict[int, list[Span]]):
    """Nearest descendants of ``span`` in another layer (same-layer
    children are looked through, since their time is the layer's own)."""
    for c in children.get(span.id, ()):
        if c.layer != span.layer:
            yield c
        else:
            yield from _other_layer_descendants(c, children)


def subtree(spans: list[Span]) -> dict[int, list[Span]]:
    """span id -> the span and all its descendants."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, list[Span]] = {}

    def walk(s: Span) -> list[Span]:
        if s.id not in out:
            acc = [s]
            for c in children.get(s.id, ()):
                acc += walk(c)
            out[s.id] = acc
        return out[s.id]

    for s in spans:
        walk(s)
    return out
