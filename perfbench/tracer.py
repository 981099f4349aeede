"""Tracing for the benchmark's traced run, applied from outside the program.

Spans are recorded around (a) the benchmark's own units of work and (b)
every call into the public functions of the program's layers, which are
wrapped from outside by :meth:`Tracer.instrument` — the program itself is
not changed. Each span runs its Spark jobs under its own job group
(``SparkContext.setJobGroup``), so the per-stage counters of the Spark
status store (``AppStatusStore``, available with the UI disabled) can be
attributed to exactly one span afterwards.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from contextlib import contextmanager

# StageData accessor -> counter name. Times are converted to seconds.
STAGE_COUNTERS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_s",  # ms
    "executorCpuTime": "executor_cpu_s",  # ns
    "jvmGcTime": "gc_s",  # ms
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}
_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}


class Tracer:
    """Collects spans; one instance per run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Record ``name``; Spark jobs started inside belong to it alone."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = f"s{next(self._ids)}"
        span = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else sid),
            "thread": threading.get_ident(),
            **attrs,
        }
        stack.append(span)
        self.sc.setJobGroup(sid, name)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(span)

    # -- instrumentation -------------------------------------------------
    def instrument(self, layer: str, module) -> None:
        """Wrap every public function defined in ``module`` in a span named
        ``<layer>.<function>``, including the copies other loaded program
        modules hold through ``from module import name``."""
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            wrapper = self._wrap(f"{layer}.{name}", fn)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(
                        "transit_scrape_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)

    def _wrap(self, span_name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._stack():  # outside a traced unit: no span
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    # -- Spark counters --------------------------------------------------
    def attach_counters(self, spans: list[dict]) -> None:
        """Add the status-store counters of each span's own jobs to it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in spans:
            counters = dict.fromkeys(STAGE_COUNTERS.values(), 0.0)
            jobs = tracker.getJobIdsForGroup(span["id"])
            counters["jobs"] = float(len(jobs))
            for job_id in jobs:
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    try:
                        stage = store.lastStageAttempt(stage_id)
                    except Exception:  # skipped stage: never ran
                        continue
                    for getter, key in STAGE_COUNTERS.items():
                        counters[key] += getattr(stage, getter)() * _SCALE.get(key, 1)
            span["counters"] = counters


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the durations of direct children."""
    kids = [s for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)


def inclusive(span: dict, spans: list[dict], key: str) -> float:
    """A counter summed over the span and all of its descendants."""
    by_parent: dict[str | None, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    total, todo = 0.0, [span]
    while todo:
        s = todo.pop()
        total += s.get("counters", {}).get(key, 0.0)
        todo.extend(by_parent.get(s["id"], []))
    return total
