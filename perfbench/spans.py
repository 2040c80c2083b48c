"""Spans around layer calls, with Spark counters read from the status store.

Each span sets a job group of its own for the duration of the call, so
every job the call launches (on this thread, or on threads that inherit
its local properties, as ``CrossValidator``'s pool does) is charged to it.
When the span ends the listener bus is drained and the group's jobs and
stages are read from ``sc._jsc.sc().statusStore()``, which Spark keeps
with the UI disabled. Spans live in memory until the run writes them out.

The store keeps only ``spark.ui.retainedJobs`` jobs and
``spark.ui.retainedStages`` stages (1,000 each by default); a traced
application must raise both (``RETENTION_CONF``, set as JVM system
properties before the application starts) or one long call silently loses
its oldest jobs.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024

# Set for traced applications only.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}

COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "executor_run_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
)

_FINAL_PLAN = re.compile(r"== Final Plan ==(.*?)(?:== Initial Plan ==|$)", re.S)
_EXCHANGE = re.compile(r"(?:^|[\s:+-])(?:Exchange|BroadcastExchange) ", re.M)


def exchange_count(df) -> int:
    """Exchange nodes in the plan Spark actually ran (AQE's final plan
    when adaptive execution was used); call after the frame executed."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    finals = _FINAL_PLAN.findall(plan)
    return sum(len(_EXCHANGE.findall(p)) for p in (finals or [plan]))


class Tracer:
    """Records spans for one run; ``enabled=False`` makes every span a
    plain timer that touches no Spark state."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        group = f"{self.run_id}.{sid}"
        prev = self._sc.getLocalProperty("spark.jobGroup.id") if self.enabled else None
        if self.enabled:
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if prev is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(prev, "")
                rec.update(self._counters(group))
            self.spans.append(rec)

    def _counters(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._store.job(int(jid))
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        peak = 0
        for st in sorted(stage_ids):
            try:
                data = self._store.lastStageAttempt(st)
            except Py4JJavaError:  # a stage skipped in every job never ran
                out["skipped_stages"] += 1
                continue
            if data.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["executor_run_s"] += data.executorRunTime() / 1000.0
            out["shuffle_read_mb"] += (
                data.shuffleLocalBytesRead() + data.shuffleRemoteBytesRead()
            ) / MB
            out["shuffle_write_mb"] += data.shuffleWriteBytes() / MB
            out["spill_mb"] += (data.memoryBytesSpilled() + data.diskBytesSpilled()) / MB
            peak = max(peak, data.peakExecutionMemory())
        out["peak_exec_mem_mb"] = peak / MB
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}
