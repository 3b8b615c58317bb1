"""Per-layer tracing from outside the package.

The tracer replaces public functions of the package with wrappers that
record a span and tag the calling thread's Spark jobs with a layer name
(the job group local property). After each workload call it reads the
call's jobs and stages from Spark's status store and charges every
stage's task metrics to the layer of the job that ran it. Nothing in the
package changes; ``unpatch`` restores every replaced attribute.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from typing import Callable

from py4j.protocol import Py4JJavaError

LAYER_PROPERTY = "spark.jobGroup.id"
JOB_FIELDS = ("jobs", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
MB = 1e6


class AttributionError(RuntimeError):
    """A call's jobs or stages could not all be read back and charged."""


class Tracer:
    def __init__(self, spark, default_layer: str):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.default_layer = default_layer
        self.spans: list[dict] = []
        self.driver_s: dict[str, float] = defaultdict(float)
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next_job = self._max_job_id() + 1
        self._next_stage = self._max_stage_id() + 1
        self._tasks_seen = self._executor_tasks()
        self._call_span: int | None = None
        self._t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``; return its result."""
        stack = self._stack()
        parent = stack[-1] if stack else self._call_span
        record = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": parent,
            "thread": threading.current_thread().name,
        }
        with self._lock:
            record["id"] = len(self.spans)
            self.spans.append(record)
        stack.append(record["id"])
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            record["end"] = time.perf_counter() - self._t0
            with self._lock:
                self.driver_s[name] += record["end"] - record["start"]

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """A top-level workload call: a root span, the parent of every
        span a pool thread opens during it. Jobs without a layer tag are
        charged to the default layer."""

        def root():
            self._call_span = self._stack()[-1]
            return self._tagged(self.default_layer, True, fn, *args, **kwargs)

        try:
            return self.span(name, root)
        finally:
            self._call_span = None

    def _tagged(self, layer: str, restore: bool, fn: Callable, *args, **kwargs):
        previous = self._sc.getLocalProperty(LAYER_PROPERTY)
        self._sc.setLocalProperty(LAYER_PROPERTY, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            if restore:
                self._sc.setLocalProperty(LAYER_PROPERTY, previous)

    # -- patching ------------------------------------------------------

    def wrap(
        self,
        owner: object,
        attr: str,
        layer: str | Callable[..., str],
        restore: bool = True,
        after: Callable[..., None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span and
        tags the thread's jobs with ``layer`` (a name, or a function of
        the call's arguments). With ``restore=False`` the tag stays after
        the call returns, so lazy plans built by the call are charged to
        it when a later action runs them. ``after`` is a function of the
        call's arguments and its start time, run when the call returns."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = layer(*args, **kwargs) if callable(layer) else layer
            start = time.time()
            try:
                return self.span(name, self._tagged, name, restore, original, *args, **kwargs)
            finally:
                if after is not None:
                    after(start, *args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    # -- status store --------------------------------------------------

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def _max_stage_id(self) -> int:
        jobs = self._store.jobsList(None)
        ids = [jobs.apply(i).stageIds() for i in range(jobs.size())]
        return max((s.apply(k) for s in ids for k in range(s.size())), default=-1)

    def _executor_tasks(self) -> int:
        """Tasks completed so far, as the driver's executor counts them:
        a second source for the stage sums."""
        return self._store.executorList(True).apply(0).completedTasks()

    def codegen(self) -> tuple[int, float]:
        """Whole-process codegen compiles and their total seconds. The
        histogram keeps every sample until it holds 1028; past that the
        total is its sample mean times the count."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        count = hist.getCount()
        values = list(hist.getSnapshot().getValues())
        total_ms = sum(values) if count <= len(values) else sum(values) / len(values) * count
        return count, total_ms / 1000.0

    def read_call(self) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
        """Charge every job and stage started since the last read.

        Returns (per-layer metrics, whole-Spark totals). Each stage goes
        to the first job that lists it. Raises AttributionError if a job
        or stage id in the window is missing from the store (evicted) or
        is listed by no job. ``totals["attributed_task_share"]`` is the
        charged stages' completed tasks over the tasks the executor
        completed in the window: below 1 if a stage's metrics were lost."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        found = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() >= self._next_job:
                found[job.jobId()] = job
        last_job = max(found, default=self._next_job - 1)
        missing = [j for j in range(self._next_job, last_job + 1) if j not in found]
        if missing:
            raise AttributionError(f"jobs {missing} are not in the status store")

        owner: dict[int, str] = {}
        per_layer: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(JOB_FIELDS, 0.0))
        for job_id in sorted(found):
            job = found[job_id]
            group = job.jobGroup()
            layer = group.get() if group.isDefined() else self.default_layer
            per_layer[layer]["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                owner.setdefault(ids.apply(k), layer)

        last_stage = max(owner, default=self._next_stage - 1)
        totals = dict.fromkeys(SPARK_FIELDS, 0.0)
        totals["jobs"] = float(len(found))
        for sid in range(self._next_stage, last_stage + 1):
            if sid not in owner:
                raise AttributionError(f"stage {sid} belongs to no job read back")
            try:
                stage = self._store.lastStageAttempt(sid)
            except Py4JJavaError as exc:  # NoSuchElementException: evicted
                raise AttributionError(f"stage {sid} is not in the status store") from exc
            if stage.status().toString() == "SKIPPED":
                continue
            metrics = {
                "task_run_s": stage.executorRunTime() / 1000.0,
                "task_cpu_s": stage.executorCpuTime() / 1e9,
                "gc_s": stage.jvmGcTime() / 1000.0,
                "shuffle_write_mb": stage.shuffleWriteBytes() / MB,
            }
            totals["stages"] += 1
            totals["tasks"] += stage.numCompleteTasks()
            totals["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
            for key, value in metrics.items():
                totals[key] += value
                per_layer[owner[sid]][key] += value
        tasks = self._executor_tasks()
        done = tasks - self._tasks_seen
        totals["attributed_task_share"] = totals["tasks"] / done if done else 1.0
        self._tasks_seen = tasks
        self._next_job = last_job + 1
        self._next_stage = last_stage + 1
        return {k: dict(v) for k, v in per_layer.items()}, totals

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)
