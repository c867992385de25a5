"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded only here, around the benchmark's calls into each layer;
nothing inside ``cognee_spark`` is instrumented. Spark-side numbers come from
the driver's status store (``run_stage`` labels every job ``stage:<name>``)
and from ``StreamingQueryProgress``; neither needs an event log or an extra
Spark job. Every span and counter is kept in memory and folded when the run
ends. ``cost_s`` accumulates the time spent in this module's own reads so
the run can report its tracing overhead.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class NoTrace:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._stack: list[int] = []
        self.cost_s = 0.0

    # --- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(index)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[index][2] = time.perf_counter()

    def self_times(self, group=lambda name: name.split(".", 1)[0]) -> dict[str, float]:
        """Self time: a span's duration minus the part of it that its direct
        children cover, summed per ``group(span name)`` (by default the
        layer, the name's first part)."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent is not None and end is not None:
                child_time[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _parent) in enumerate(self.spans):
            if end is not None:
                key = group(name)
                out[key] = out.get(key, 0.0) + (end - start) - child_time[i]
        return out

    # --- Spark status store -------------------------------------------------

    def last_job_id(self) -> int:
        started = time.perf_counter()
        jobs = self._store.jobsList(None)  # newest first
        last = jobs.apply(0).jobId() if jobs.size() else -1
        self.cost_s += time.perf_counter() - started
        return last

    def jobs_since(self, after: int) -> list[dict]:
        """Every job newer than ``after``: its description and the metrics of
        the stages it ran (last attempt; skipped stages carry none)."""
        started = time.perf_counter()
        jobs, seen = [], set()
        newest = self.last_job_id()
        for job_id in range(after + 1, newest + 1):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                continue
            desc = job.description()
            row = {
                "description": desc.get() if desc.isDefined() else "",
                "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "tasks": 0,
            }
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage_id = stage_ids.apply(i)
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    stage = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # evicted past spark.ui.retainedStages
                    continue
                if str(stage.status()) == "SKIPPED":
                    continue
                row["cpu_s"] += stage.executorCpuTime() / 1e9
                row["gc_s"] += stage.jvmGcTime() / 1e3
                row["shuffle_write_mb"] += stage.shuffleWriteBytes() / 2**20
                row["spill_mb"] += stage.diskBytesSpilled() / 2**20
                row["tasks"] += stage.numCompleteTasks()
            jobs.append(row)
        self.cost_s += time.perf_counter() - started
        return jobs

    def plan_ms(self, df) -> float:
        """Catalyst analysis + optimization + planning time of an executed
        DataFrame, from its QueryPlanningTracker."""
        started = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases().iterator()
        total = 0.0
        while phases.hasNext():
            total += phases.next()._2().durationMs()
        self.cost_s += time.perf_counter() - started
        return total


def stream_listener():
    """A StreamingQueryListener that keeps every progress event; ``done``
    is set once the query terminates (events arrive on a listener thread)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []
            self.done = threading.Event()

        def onQueryStarted(self, event):
            self.done.clear()

        def onQueryProgress(self, event):
            self.events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    return Progress()
