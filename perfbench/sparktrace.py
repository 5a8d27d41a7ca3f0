"""Timing of public calls, and in traced runs their Spark job counters.

Untraced, `Tracer.call` only times the call. Traced, it tags the call's
Spark jobs with a job group of its own, then reads every job and stage
of the call from the driver's status store:

* jobs — the call's job group, plus any ungrouped job that appeared
  during the call (work submitted from a helper thread carries no
  group);
* per stage, `lastStageAttempt(stageId)`: tasks run, executor task
  time (`executorRunTime`; `executorCpuTime` would miss the CPU of the
  Python workers that run the engine's numpy kernels), shuffle bytes
  written and failed tasks; a skipped stage ran nothing;
* `driver_only_s` — the call's wall minus the union of its jobs'
  submission-to-completion intervals.

Spans (name, start, end, parent, run id) stay in memory until `dump`.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from metrics import covered_s

COUNTERS = ("wall_s", "driver_only_s", "jobs", "tasks", "task_s",
            "shuffle_write_mb", "failed_tasks")


class StatusStore:
    """Reads jobs and stages of the running SparkContext (works with the
    UI disabled)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def group_jobs(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def job(self, job_id: int) -> tuple[float | None, float | None, list[int]]:
        """→ (submitted, completed) as epoch seconds (None if unknown)
        and the job's stage ids."""
        jd = self.store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        info = self.tracker.getJobInfo(job_id)
        return (
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            done.get().getTime() / 1000.0 if done.isDefined() else None,
            list(info.stageIds) if info is not None else [],
        )

    def stage(self, stage_id: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(stage_id)
        except Exception:  # py4j: NoSuchElementException for unknown ids
            return None
        return {
            "status": sd.status().toString(),
            "complete_tasks": sd.numCompleteTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
        }


def read_counters(store, job_ids, start: float, end: float) -> dict:
    """Counters of the jobs `job_ids` of one call that ran in [start, end]
    (epoch seconds). Stages shared by several jobs count once."""
    intervals = []
    stages: set[int] = set()
    for j in job_ids:
        sub, done, sids = store.job(j)
        if sub is not None:
            intervals.append((sub, done if done is not None else end))
        stages.update(sids)
    tasks = failed = run_ms = shuffle = 0
    for s in stages:
        sd = store.stage(s)
        if sd is None or sd["status"] == "SKIPPED":
            continue
        tasks += sd["complete_tasks"] + sd["failed_tasks"]
        failed += sd["failed_tasks"]
        run_ms += sd["run_ms"]
        shuffle += sd["shuffle_write_bytes"]
    wall = end - start
    return {
        "wall_s": wall,
        "driver_only_s": wall - covered_s(intervals, start, end),
        "jobs": len(set(job_ids)),
        "tasks": tasks,
        "task_s": run_ms / 1e3,
        "shuffle_write_mb": shuffle / 1e6,
        "failed_tasks": failed,
    }


@dataclass
class Tracer:
    """Times public calls; with a status store, also counts their jobs."""

    run_id: str
    store: StatusStore | None = None
    sc: object = None
    walls: dict = field(default_factory=dict)      # phase → [wall_s]
    counters: dict = field(default_factory=dict)   # phase → [counter dict]
    spans: list = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _seq: int = 0
    _current: int | None = None

    @property
    def traced(self) -> bool:
        return self.store is not None

    def call(self, phase: str, fn, *args, **kwargs):
        """Run `fn(*args, **kwargs)` as one timed call of `phase`. Calls
        do not nest."""
        if not self.traced:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.walls.setdefault(phase, []).append(time.perf_counter() - t0)
            return out
        b0 = time.perf_counter()
        self._seq += 1
        self._current = self._seq
        group = f"perfbench-{self.run_id}-{self._seq}"
        before = set(self.store.group_jobs(None))
        self.sc.setJobGroup(group, phase)
        self.bookkeeping_s += time.perf_counter() - b0
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            b1 = time.perf_counter()
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
            self._current = None
            jobs = set(self.store.group_jobs(group))
            jobs |= set(self.store.group_jobs(None)) - before
            c = read_counters(self.store, sorted(jobs), start, end)
            self.walls.setdefault(phase, []).append(c["wall_s"])
            self.counters.setdefault(phase, []).append(c)
            self.spans.append({"name": phase, "id": self._seq, "parent": None,
                               "run": self.run_id, "start": start, "end": end})
            self.bookkeeping_s += time.perf_counter() - b1

    def timed(self, phase: str, fn, *args, **kwargs):
        """Time a function inside (or outside) a call, without reading job
        counters: a span whose parent is the enclosing call."""
        parent = self._current
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            self.walls.setdefault(phase, []).append(end - start)
            if self.traced:
                self.spans.append({"name": phase, "id": None,
                                   "parent": parent, "run": self.run_id,
                                   "start": start, "end": end})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
