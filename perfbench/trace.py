"""Tracing for the benchmark's traced runs, recorded from the benchmark's
own side of the engine's public calls.

- Spans: name, start, end, parent span and op id, kept in memory and
  written as JSON lines at exit.
- Spark work per op: jobs and completed tasks of the op's job group
  (``statusTracker().getJobIdsForGroup``).  A streaming drain's jobs run
  under the query's runId as their group, so drains are counted by
  runId, which a ``StreamingQueryListener`` reports together with the
  per-trigger ``durationMs`` breakdown.

A disabled tracer records nothing and touches no Spark state, so the
same workload code serves traced and untraced ops.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "op": self.op_id, **attrs})

    def duration(self, name: str, op_id: str) -> float:
        """Seconds spent in the op's spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] == op_id)

    @contextmanager
    def job_group(self, group: str):
        """Run the block's Spark jobs under job group ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wait_listener_bus(self) -> None:
        """Job and stage status reach the tracker through the listener
        bus; wait until it has delivered every posted event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) run under job group ``group``."""
        self._wait_listener_bus()
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        return len(job_ids), tasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class DrainListener(StreamingQueryListener):
    """Collects runId and per-trigger ``durationMs`` of streaming runs."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._terminated: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _done(self, run_id: str) -> threading.Event:
        with self._lock:
            return self._terminated.setdefault(run_id, threading.Event())

    def onQueryStarted(self, event) -> None:
        run_id = str(event.runId)
        with self._lock:
            self.run_ids.append(run_id)
            self.progress.setdefault(run_id, [])

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(
                {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
            )

    def onQueryTerminated(self, event) -> None:
        self._done(str(event.runId)).set()

    def finished(self, run_id: str, timeout_s: float = 30.0) -> list[dict]:
        """The run's progress reports, once its termination was delivered."""
        if not self._done(run_id).wait(timeout_s):
            raise TimeoutError(f"no termination event for streaming run {run_id}")
        with self._lock:
            return list(self.progress.get(run_id, []))
