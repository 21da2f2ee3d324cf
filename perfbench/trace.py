"""Spans around calls into the program, with Spark's own counters.

A span sets a fresh job group, so every Spark job the wrapped call
launches is attributed to it. When the span closes it waits for the
listener bus to drain and reads each job's stages from the status store
(``statusStore().lastStageAttempt``), which Spark fills even with
``spark.ui.enabled=false``. Spans nest; a parent's counters include its
children's. Spans stay in memory and are written as one JSON file.

Spans may be opened on several threads at once: each thread has its own
stack of open spans (PySpark pins each Python thread to a JVM thread, so
job groups are per thread too), and a span opened on a worker thread names
its parent explicitly.

A disabled tracer records nothing and never touches the job group, so the
untraced runs measure the program alone. ``overhead_s`` sums the time the
tracer itself takes, opening and closing spans (job groups, listener-bus
drain, status-store reads): what tracing adds to the traced calls.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)
_MB = 2.0**20


def _group(rec: dict) -> str:
    return f"perfbench-{rec['id']}"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._t0 = time.perf_counter()
        self.overhead_s = 0.0

    @property
    def _stack(self) -> list[dict]:
        """The calling thread's open spans."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Yields the span record (``None`` when disabled); its ``counters``
        are filled in when the block exits. ``parent`` is used when the
        calling thread has no open span."""
        if not self.enabled:
            yield None
            return
        t_open = time.perf_counter()
        stack = self._stack
        up = stack[-1] if stack else parent
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": up["id"] if up else None,
            "start": time.perf_counter() - self._t0,
        }
        stack.append(rec)
        self._sc.setJobGroup(_group(rec), name)
        with self._lock:
            self.overhead_s += time.perf_counter() - t_open
        try:
            yield rec
        finally:
            t_close = time.perf_counter()
            rec["end"] = t_close - self._t0
            stack.pop()
            if stack:
                self._sc.setJobGroup(_group(stack[-1]), stack[-1]["name"])
            else:
                self._sc.setJobGroup(None, None)
            counters = self._group_counters(_group(rec))
            with self._lock:
                for k, v in rec.pop("_child", {}).items():
                    counters[k] += v
                rec["counters"] = counters
                if up is not None:
                    acc = up.setdefault("_child", dict.fromkeys(COUNTERS, 0))
                    for k, v in counters.items():
                        acc[k] += v
                self.spans.append(rec)
                self.overhead_s += time.perf_counter() - t_close

    def _group_counters(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j raises for evicted/unknown stages
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["input_mb"] += st.inputBytes() / _MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh, indent=1)
