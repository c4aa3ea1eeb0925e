"""Spans around calls into the package, with Spark counter deltas.

Each span runs under its own Spark job group, so the jobs it launched
(AQE map stages included) are exactly ``statusTracker`` 's jobs for
that group.  On exit the span waits for the listener bus to drain and
sums the status store's stage records of those jobs.  A parent span
adds its children's counters to its own.  Spans stay in memory; the
caller writes them out once, at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

ADDITIVE = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
            "shuffle_bytes", "spill_bytes")


def _empty() -> dict:
    c = {k: 0 for k in ADDITIVE}
    c.update(max_task_s=0.0, last_stage_tasks=0)
    return c


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._t0 = time.perf_counter()
        self._stack: list = []
        self._next = 0
        self.spans: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        group = f"perfbench-{id(self):x}-{self._next}"
        rec = {"id": self._next, "name": name,
               "parent": parent["id"] if parent else None,
               "group": group, "children": []}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["counters"] = self._counters(group, rec.pop("children"))
            if parent:
                parent["children"].append(rec["counters"])
            self.spans.append(rec)

    def _counters(self, group: str, children: list) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        c = _empty()
        tracker = self.sc.statusTracker()
        store = self._store
        statuses = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        last_stage = -1
        for job in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                attempts = store.stageData(stage, False, statuses, False,
                                           quantiles)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    done = d.numCompleteTasks()
                    if done + d.numFailedTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += done + d.numFailedTasks()
                    c["failed_tasks"] += d.numFailedTasks()
                    c["task_s"] += d.executorRunTime() / 1000.0
                    c["gc_s"] += d.jvmGcTime() / 1000.0
                    c["shuffle_bytes"] += d.shuffleWriteBytes()
                    c["spill_bytes"] += d.diskBytesSpilled()
                    if stage > last_stage:
                        last_stage, c["last_stage_tasks"] = stage, done
                    tasks = store.taskList(stage, d.attemptId(), 1_000_000)
                    for k in range(tasks.size()):
                        m = tasks.apply(k).taskMetrics()
                        if m.isDefined():
                            c["max_task_s"] = max(
                                c["max_task_s"],
                                m.get().executorRunTime() / 1000.0)
        for child in children:
            for k in ADDITIVE:
                c[k] += child[k]
            c["max_task_s"] = max(c["max_task_s"], child["max_task_s"])
            if not c["last_stage_tasks"]:
                c["last_stage_tasks"] = child["last_stage_tasks"]
        return c


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def busy_share(rec: dict, cores: int) -> float:
    """Summed task time over the span's wall time times the core count."""
    return rec["counters"]["task_s"] / max(duration(rec) * cores, 1e-9)
