"""Spans and counters for the traced run.

Spans are recorded around the benchmark's own calls into each engine
module; counters come from Spark's status store, read right after each
operation (the store keeps only the last ``spark.ui.retainedJobs``
jobs) and, for streaming drains, from a ``StreamingQueryListener``
whose micro-batch jobs run on the stream thread under the query's run
id rather than under the caller's job group.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span log; `enabled=False` makes every call a no-op
    so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, op: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next
            self._next += 1
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            rec = {"id": sid, "name": name, "op": op, "parent": parent,
                   "start": t0, "end": time.perf_counter()}
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "shuffle_read_mb", "shuffle_write_mb")


def group_counters(sc, groups) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time and shuffle bytes of the
    jobs run under the given job groups (stages skipped because their
    shuffle output was reused are not counted)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never attempted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
    return out


class StreamProbe(StreamingQueryListener):
    """Collects micro-batch progress per streaming run id."""

    def __init__(self):
        self._cv = threading.Condition()
        self.started: list[str] = []
        self.done: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.setdefault(str(p.runId), []).append(dict(p.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.done.add(str(event.runId))
            self._cv.notify_all()

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def runs_since(self, mark: int, timeout: float = 5.0) -> list[str]:
        """Run ids started after `mark`, once each has terminated (the
        listener bus delivers events asynchronously)."""
        with self._cv:
            self._cv.wait_for(
                lambda: all(r in self.done for r in self.started[mark:]), timeout
            )
            return list(self.started[mark:])

    def batches(self, run_ids) -> list[dict]:
        with self._cv:
            return [b for r in run_ids for b in self.progress.get(r, ())]
