"""Spans around the calls the benchmark makes into the library.

A ``Tracer`` made with ``enabled=False`` does nothing but run the call,
so the end-to-end run carries no tracing cost.  Enabled, every leaf
span (one with a ``phase``) runs under its own Spark job group; when it
ends the tracer waits for Spark's listener bus to drain, then reads
from ``SparkContext.statusTracker()`` the jobs of that group and from
Spark's status store the stages those jobs ran and their task metrics.
Spans stay in memory until ``write`` is called at the end of the run.

Phases split a call into the layers ROADMAP aim 1 names:

* ``build``  Python-side DataFrame construction, including every job
  launched before the DataFrame is returned (eager ``stage_boundary``
  seams, ``with_rid``'s ordinal pass, auto-compaction, pivot-domain
  discovery);
* ``plan``   Catalyst analysis, optimization and physical planning,
  forced by asking for the executed plan before the action (traced
  runs only);
* ``exec``   the action: scheduling, task execution and the collect.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator, Optional

def _interval_union(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def span(self, name: str, phase: Optional[str] = None) -> Iterator[Optional[dict]]:
        """Time the enclosed call as span ``name``.  Leaf spans carry a
        ``phase`` and collect Spark job statistics; a span without one
        only groups its children."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"{self.run_id}/{self._n}",
            "name": name,
            "phase": phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        self._n += 1
        if phase is not None:
            self._sc.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if phase is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec.update(self.job_stats(rec["id"], rec["start"], rec["end"]))
            self.spans.append(rec)

    def job_stats(self, group: str, start: float, end: float) -> dict:
        """Jobs, stages, tasks and task metrics of job group ``group``.

        Only stages submitted inside ``[start, end]`` count: a job that
        reuses an earlier shuffle lists that stage again as skipped,
        and its last attempt belongs to the earlier call."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "result_mb": 0.0,
        }
        intervals = []
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            submitted = sd.submissionTime()
            if submitted.isEmpty():
                continue  # skipped: never ran in this call
            sub_s = submitted.get().getTime() / 1000.0
            if sub_s < start - 0.001:
                continue
            completed = sd.completionTime()
            end_s = completed.get().getTime() / 1000.0 if completed.isDefined() else end
            intervals.append((max(sub_s, start), min(end_s, end)))
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            out["result_mb"] += sd.resultSize() / 1e6
        out["driver_gap_s"] = max(0.0, (end - start) - _interval_union(intervals))
        return out

    def leaves(self, prefix: str = "") -> list[dict]:
        return [s for s in self.spans if s["phase"] and s["name"].startswith(prefix)]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def force_plan(df) -> None:
    """Run Catalyst up to the executed physical plan without executing
    the query; the action that follows reuses the planned Dataset."""
    df._jdf.queryExecution().executedPlan()


def retained_storage_mb(spark) -> float:
    """Memory plus disk block storage Spark currently holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def median_wall(fn, n: int = 7) -> float:
    """Median wall of ``n`` calls of ``fn`` after one warm-up call."""
    fn()
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return walls[n // 2]


def calibration(spark) -> dict:
    """The per-job floor and bench.py's noop-write row, measured the
    same way in every run so results from a drifting box carry their
    own context."""
    return {
        "empty_job_s": median_wall(
            lambda: spark.range(0).filter("id < 0").count()
        ),
        "noop_write_range100_s": median_wall(
            lambda: spark.range(100).write.mode("overwrite").format("noop").save(),
        ),
    }
