"""Spans around calls into the engine's layers, and Spark's own account
of the work each operation ran.

Tracing is only switched on for a traced run. :meth:`Tracer.install`
wraps the public functions of each layer module (and the public methods
of the cache and client classes) so every call records a span: name,
layer, start, end, parent span and operation id. Spans stay in memory
and are written out once, when the run ends.

After each operation, outside its timed window, :class:`SparkWork`
drains the listener bus and reads the jobs that ran under the
operation's job group from Spark's status store.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

OPERATOR_MODULES = ("relational", "timeseries", "events", "textops", "dedup",
                    "similarity", "graph")
FUNCTION_MODULES = ("bloom", "dates", "hashing", "layout", "stats", "text",
                    "vectors")

# module path -> layer name; classes list the methods that are wrapped
LAYERS = {
    **{f"pyperustats_spark.operators.{m}": f"operators.{m}"
       for m in OPERATOR_MODULES},
    **{f"pyperustats_spark.functions.{m}": f"functions.{m}"
       for m in FUNCTION_MODULES},
    "pyperustats_spark.sources.registry": "sources.registry",
    "pyperustats_spark.session": "session",
}
CLASS_METHODS = {
    ("pyperustats_spark.sources.cache", "IncrementalParquetCache"):
        ("sources.cache", ("load", "cached_codes", "missing_codes", "append",
                           "compact")),
    ("pyperustats_spark.api", "SeriesClient"):
        ("api", ("validate_codes", "fetch", "fetch_multi")),
}

# cache calls whose on-disk footprint is recorded before and after
SIZED_SPANS = ("sources.cache.append", "sources.cache.compact")


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under *path*."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans for one run. ``op`` names the operation the spans
    recorded from now on belong to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.self_time = 0.0  # time spent recording spans inside operations
        self._local = threading.local()

    def install(self) -> None:
        originals: dict[int, object] = {}
        for module_name, layer in LAYERS.items():
            module = importlib.import_module(module_name)
            for name, fn in vars(module).items():
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == module_name):
                    wrapped = self._wrap(fn, layer, f"{layer}.{name}")
                    setattr(module, name, wrapped)
                    originals[id(fn)] = wrapped
        for (module_name, cls_name), (layer, methods) in CLASS_METHODS.items():
            cls = getattr(importlib.import_module(module_name), cls_name)
            for name in methods:
                setattr(cls, name, self._wrap(getattr(cls, name), layer,
                                              f"{layer}.{name}"))
        # rebind names other modules imported with ``from X import f``
        for mod_name, module in list(sys.modules.items()):
            if module is None or not (mod_name.startswith("pyperustats_spark")
                                      or mod_name == "__spark_entry__"):
                continue
            for name, value in list(vars(module).items()):
                wrapped = originals.get(id(value))
                if wrapped is not None:
                    setattr(module, name, wrapped)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            stack = tracer._stack()
            span = Span(name, layer, time.time(),
                        parent=stack[-1] if stack else None, op=tracer.op)
            tracer.spans.append(span)
            stack.append(len(tracer.spans) - 1)
            if name in SIZED_SPANS:
                span.attrs["bytes_before"] = dir_bytes(args[0].path)
            tracer._charge(span, time.perf_counter() - t0)
            try:
                result = fn(*args, **kwargs)
                if name == "sources.cache.missing_codes":
                    span.attrs["missing"] = len(result)
                return result
            finally:
                t1 = time.perf_counter()
                span.end = time.time()
                stack.pop()
                if name in SIZED_SPANS:
                    span.attrs["bytes_after"] = dir_bytes(args[0].path)
                tracer._charge(span, time.perf_counter() - t1)

        return traced

    def _charge(self, span: Span, seconds: float) -> None:
        """Count time spent recording a span that lies inside a timed
        operation."""
        if span.op is not None:
            self.self_time += seconds

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def primary_module(spans: list[Span], op: str) -> str | None:
    """The operator module of the first top-level operator call an
    operation makes: the module its Spark work is attributed to."""
    for s in spans:
        if s.op != op or not s.layer.startswith("operators."):
            continue
        parent = s.parent
        while parent is not None and not spans[parent].layer.startswith("operators."):
            parent = spans[parent].parent
        if parent is None:
            return s.layer.split(".", 1)[1]
    return None


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SparkWork:
    """Reads the jobs and stages an operation ran from the status store.
    Remembers the last job it has seen, so each call returns only the
    jobs that finished since the previous one."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.last_job = -1
        gw = self.sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0

    def _new_jobs(self) -> tuple[object, list]:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > self.last_job]
        self.last_job = max([j.jobId() for j in jobs] + [self.last_job])
        return store, jobs

    def mark(self) -> None:
        """Count the jobs run so far as seen: they belong to set-up."""
        self._new_jobs()

    def collect(self, group: str) -> dict:
        store, new = self._new_jobs()
        jobs = [j for j in new
                if j.jobGroup().isDefined() and j.jobGroup().get() == group]
        unattributed = sum(1 for j in new if not j.jobGroup().isDefined())
        out = {"jobs": len(jobs), "unattributed_jobs": unattributed,
               "tasks": 0, "executor_cpu_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "input_mb": 0.0, "task_skew": 0.0,
               "stage_spans": []}
        slowest = None
        for job in jobs:
            for stage_id in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # the store no longer holds the stage
                    continue
                start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if start is None or end is None:
                    continue  # skipped stage: its shuffle output was reused
                out["stage_spans"].append((start, end))
                out["tasks"] += st.numCompleteTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / 1e6
                out["input_mb"] += st.inputBytes() / 1e6
                if slowest is None or end - start > slowest[0]:
                    slowest = (end - start, st)
        if slowest is not None:
            st = slowest[1]
            summary = store.taskSummary(st.stageId(), st.attemptId(),
                                        self.quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, top = run.apply(0), run.apply(1)
                out["task_skew"] = top / median if median > 0 else 1.0
        out["cached_blocks"] = self.sc._jsc.getPersistentRDDs().size()
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
