"""Span recorder for the traced run.

A span is opened around a call into one layer's public functions from the
benchmark's own code. Each span records name, start, end, parent and run
id, and, when a Spark session is given, sets a Spark job group for its
duration: the jobs it ran are read back on close through the status
tracker and the app status store (which work with the UI disabled), and
their non-skipped stages are summed. Spans stay in memory until
``write``.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_run_ms", "gc_ms", "spill_bytes",
)


class NullRecorder:
    """Stands in for SpanRecorder in untraced jobs: records nothing."""
    traced = False

    @contextmanager
    def span(self, name: str):
        yield {}


class SpanRecorder:
    traced = True

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counted: set = set()  # (stage id, attempt) already summed

    @contextmanager
    def span(self, name: str):
        """Yields the span dict; callers may add counts to it."""
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "id": len(self.spans), "run_id": self.run_id,
             "parent": None if parent is None else parent["id"]}
        group = f"{self.run_id}-{s['id']}"
        self.spans.append(s)
        self._stack.append(s)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        s["start"] = time.monotonic()
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            s["wall_s"] = s["end"] - s["start"]
            self._stack.pop()
            if self.spark is not None:
                sc = self.spark.sparkContext
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
                s.update(spark_counters(sc, group, self._counted))

    def total(self, name: str, key: str = "wall_s") -> float:
        """Sum of ``key`` over spans called ``name``."""
        return sum(s.get(key, 0) for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def spark_counters(sc, group: str, counted: set) -> dict:
    """Job, stage and task counters of every job run under ``group``.
    Stages reported SKIPPED reuse an earlier shuffle and did no work; a
    stage a later job lists again is summed only once (``counted``)."""
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_tasks = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        stage_ids = store.job(job_id).stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, no_tasks, False, no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                key = (st.stageId(), st.attemptId())
                if st.status().toString() == "SKIPPED" or key in counted:
                    continue
                counted.add(key)
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_run_ms"] += st.executorRunTime()
                out["gc_ms"] += st.jvmGcTime()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
