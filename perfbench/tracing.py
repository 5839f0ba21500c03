"""Spans and counters for the traced run.

Spans are recorded from the benchmark's own code only: the harness opens
the ``request``, ``build`` and ``spark.exec`` spans, and
:func:`install_layer_spans` wraps the engine's public layer functions. The
engine's operator modules import ``load_table``, ``materialize`` and
``latest_by_key`` by name, so each wrapper is bound in every loaded
``nosql_triple_store_spark`` module that holds the original function, not
only in its home module.

Spark-side counts (jobs, stages, tasks, shuffle and spill bytes, SQL
executions, GC time) are read by :class:`SparkProbe` after the request's
timer has stopped, as deltas of the status store.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from collections import Counter
from dataclasses import dataclass

ENGINE = "nosql_triple_store_spark"

# (home module, function) -> layer name. Each call is one span of the
# layer and adds 1 to ``<layer>.calls``.
LAYER_FUNCTIONS = {
    ("catalog", "load_table"): "catalog",
    ("functions.lww", "latest_by_key"): "lww",
    ("materialize", "materialize"): "materialize",
    ("materialize", "lazy_cut"): "materialize",
    ("plans.sparql", "parse_sparql"): "sparql.parse",
    ("plans.sparql", "compile_sparql_encoded"): "sparql.compile",
    ("sources.compaction", "compact"): "compaction.compact",
    ("sources.compaction", "read_register"): "compaction.read",
    ("sources.compaction", "read_register_asof"): "compaction.read",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    request: int


class Tracer:
    """In-memory span and counter recorder for one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self.request = -1
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.request)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.counts[f"{layer}.calls"] += 1
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed span durations minus the part of each
    span that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _union_length(children.get(i, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def inclusive_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed durations of the outermost spans of that
    name (a span nested in a same-name span is not counted twice)."""
    out: dict[str, float] = {}
    for s in spans:
        p, nested = s.parent, False
        while p is not None:
            if spans[p].name == s.name:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


# DataFrame actions an engine function may run while it builds its result
# (guard counts, convergence checks). Wrapping them keeps that execution
# out of ``build`` self time; the harness's own final ``collect`` is
# already inside a ``spark.exec`` span, and nested same-name spans count
# once.
DATAFRAME_ACTIONS = ("collect", "count", "first", "head", "take", "toPandas")


def install_layer_spans(tracer: Tracer):
    """Wrap every layer function in every loaded engine module, and the
    DataFrame actions; returns a function that restores the originals."""
    from pyspark.sql import DataFrame

    undo = []
    for attr in DATAFRAME_ACTIONS:
        orig = getattr(DataFrame, attr)
        setattr(DataFrame, attr, tracer.wrap(orig, "spark.exec"))
        undo.append((DataFrame, attr, orig))
    for (home, attr), layer in LAYER_FUNCTIONS.items():
        orig = getattr(importlib.import_module(f"{ENGINE}.{home}"), attr)
        wrapped = tracer.wrap(orig, layer)
        for name, mod in list(sys.modules.items()):
            if (name == ENGINE or name.startswith(ENGINE + ".")) and getattr(
                mod, attr, None
            ) is orig:
                setattr(mod, attr, wrapped)
                undo.append((mod, attr, orig))

    def restore() -> None:
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    return restore


class SparkProbe:
    """Per-request Spark counters, read as status-store deltas.

    Jobs are attributed to a request through a job group set before the
    request starts; :meth:`finish` runs after the request timer stops and
    first waits for the listener bus to deliver the request's events.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._group = None
        self._gc0 = 0
        self._sql0 = -1

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def _last_sql_id(self) -> int:
        n = self._sql_store.executionsCount()
        if n == 0:
            return -1
        return self._sql_store.executionsList(n - 1, 1).head().executionId()

    def start(self, request: int) -> None:
        self._group = f"perfbench-{request}"
        self.sc.setJobGroup(self._group, "perfbench request")
        self._gc0 = self._gc_ms()
        self._sql0 = self._last_sql_id()

    def finish(self) -> dict[str, float]:
        gc_ms = self._gc_ms() - self._gc0
        self._bus.waitUntilEmpty()
        out = Counter(
            {
                "spark.jobs": 0,
                "spark.stages": 0,
                "spark.tasks": 0,
                "spark.shuffle_read_bytes": 0,
                "spark.shuffle_write_bytes": 0,
                "spark.spill_bytes": 0,
                "spark.task_ms": 0,
            }
        )
        out["spark.sql_executions"] = self._last_sql_id() - self._sql0
        out["jvm.gc_s"] = gc_ms / 1000.0
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(self._group):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["spark.task_ms"] += sd.executorRunTime()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return dict(out)
