"""Span tracer for the benchmark's traced mode.

Every public function of the engine package is wrapped at its defining
module *and* at each call-site binding (``from m import f`` copies the
function object into the importer, so wrapping only ``m`` would miss the
calls made through the copy). A wrapped call records a span: name, layer
(the package module, e.g. ``operators.asof``), start, end, parent span
and operation id, plus the py4j round trips made while it was innermost.

Spark work is attributed by job group: a span of a function that takes a
DataFrame or SparkSession sets a fresh ``spark.jobGroup.id`` for its
duration, and after the operation the benchmark asks the status tracker
which jobs (and how many tasks) ran under each group. Tracing adds no
Spark actions of its own.
"""

from __future__ import annotations

import copy
import functools
import inspect
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "big_data_project_datapipeline_spark"
ENTRY_MODULE = "__spark_entry__"
_JOB_GROUP = "spark.jobGroup.id"


def layer_of(module_name: str) -> str | None:
    """``big_data_project_datapipeline_spark.operators.asof`` -> ``operators.asof``."""
    if module_name == PACKAGE:
        return None
    if not module_name.startswith(PACKAGE + "."):
        return None
    rel = module_name[len(PACKAGE) + 1:]
    return "main" if rel == "__main__" else rel


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0  # round trips made while this span was innermost
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0

    def as_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "op": self.op, "parent": self.parent,
            "start": self.start, "end": self.end, "py4j_calls": self.py4j,
            "spark_jobs": len(self.jobs), "spark_tasks": self.tasks,
        }


def _takes_frames(fn) -> bool:
    """True when ``fn`` can run Spark jobs: it receives a DataFrame or a
    SparkSession. Column-expression builders cannot, and skipping their
    job-group bookkeeping keeps tracing overhead off the hot builders."""
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):
        return False
    for p in params:
        ann = p.annotation if isinstance(p.annotation, str) else getattr(
            p.annotation, "__name__", ""
        )
        if "DataFrame" in ann or "SparkSession" in ann:
            return True
        if p.name in ("spark", "df", "batch_df"):
            return True
    return False


class _Traced:
    """Callable stand-in for an engine function. Pickles as the original
    function, so closures shipped to Spark's Python workers never carry the
    tracer."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn = tracer, fn
        self._name, self._layer = name, layer
        self._tags_jobs = _takes_frames(fn)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer, self._tags_jobs):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return copy.copy, (self._fn,)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._client = self._sc._gateway._gateway_client
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._patches: list[tuple[object, str, object]] = []
        self._main_stack: list[Span] = []
        self.spans: list[Span] = []
        self.op: int | None = None

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap every public engine function at every binding currently
        loaded, and count py4j round trips at the gateway client."""
        wrappers: dict[int, _Traced] = {}
        modules = [
            m for name, m in list(sys.modules.items())
            if m is not None
            and (name == ENTRY_MODULE or name == PACKAGE
                 or name.startswith(PACKAGE + "."))
        ]
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if not inspect.isfunction(val) or attr.startswith("_"):
                    continue
                if val.__name__.startswith("_"):
                    continue
                layer = layer_of(getattr(val, "__module__", "") or "")
                if layer is None:
                    continue
                w = wrappers.get(id(val))
                if w is None:
                    w = wrappers[id(val)] = _Traced(
                        self, val, f"{layer}.{val.__name__}", layer
                    )
                self._patch(mod, attr, w)
        send = self._client.send_command

        def counting_send(*args, **kwargs):
            if not getattr(self._local, "muted", False):
                top = self._top()
                if top is not None:
                    top.py4j += 1
            return send(*args, **kwargs)

        self._patch(self._client, "send_command", counting_send)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            if obj is self._client:
                # the original was a bound method found on the class
                del obj.send_command
            else:
                setattr(obj, attr, orig)
        self._patches.clear()

    def _patch(self, obj, attr, new) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    # -------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _top(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _parent(self) -> Span | None:
        top = self._top()
        if top is not None or threading.current_thread() is self._main:
            return top
        # a callback thread (streaming foreachBatch): its spans belong to
        # whatever the driver thread is waiting in
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, layer: str, tags_jobs: bool = True):
        parent = self._parent()
        s = Span(
            id=next(self._ids), name=name, layer=layer, op=self.op,
            parent=parent.id if parent else None, start=time.perf_counter(),
        )
        stack = self._stack()
        if threading.current_thread() is self._main:
            self._main_stack = stack
        prev_group = None
        if tags_jobs:
            s.group = f"perfbench-{s.id}"
            self._local.muted = True  # the tracer's own round trips
            prev_group = self._sc.getLocalProperty(_JOB_GROUP)
            self._sc.setLocalProperty(_JOB_GROUP, s.group)
            self._local.muted = False
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            if tags_jobs:
                self._local.muted = True
                self._sc.setLocalProperty(_JOB_GROUP, prev_group)
                self._local.muted = False
            s.end = time.perf_counter()
            self.spans.append(s)

    def attribute_jobs(self, spans: list[Span], extra: dict[int, list[str]]) -> None:
        """Fill each span's jobs and completed tasks from the status
        tracker. ``extra`` maps a span id to more job groups whose jobs it
        owns (the run ids of the streaming queries it drained)."""
        tracker = self._sc.statusTracker()
        for s in spans:
            groups = [g for g in (s.group, *extra.get(s.id, ())) if g]
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    s.jobs.append(jid)
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        st = tracker.getStageInfo(sid)
                        s.tasks += st.numCompletedTasks if st else 0
