"""Per-phase Spark job statistics from the driver's in-process status store.

Each timed phase runs under its own job group. After the phase, the jobs
of that group — plus any job that ran without a group since the last
phase, which is how a job submitted from another thread shows up — are
read from ``SparkContext.statusStore()``. That store is kept even with
the UI disabled; the session must be started with
``spark.ui.retainedJobs`` / ``spark.ui.retainedStages`` well above the
number of jobs one run submits, or old jobs are dropped before they are
read.
"""

from __future__ import annotations

UNTIMED_GROUP = "perfbench-untimed"


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class JobStats:
    """Collects jobs, tasks, executor time, shuffle bytes and the busy
    time of the Spark jobs that one phase ran."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._seen_ungrouped = set(self._tracker.getJobIdsForGroup(None))

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def untimed(self) -> None:
        """Put work between phases in a group of its own, so it is not
        taken for a phase's jobs that lost their group."""
        self.sc.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP, False)

    def end(self, group: str, t0_epoch: float, t1_epoch: float) -> dict:
        """Stats of ``group``'s jobs for a phase that ran over the wall
        interval ``[t0_epoch, t1_epoch]`` (``time.time()`` seconds)."""
        self.untimed()
        self._jsc.listenerBus().waitUntilEmpty()
        ids = set(self._tracker.getJobIdsForGroup(group))
        ungrouped = set(self._tracker.getJobIdsForGroup(None))
        lost = ungrouped - self._seen_ungrouped
        self._seen_ungrouped = ungrouped
        store = self._jsc.statusStore()
        tasks = 0
        spans, stages = [], set()
        for j in sorted(ids | lost):
            jd = store.job(j)
            tasks += jd.numCompletedTasks()
            a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if a is not None:
                b = b if b is not None else t1_epoch * 1000
                spans.append((max(a / 1000, t0_epoch),
                              min(b / 1000, t1_epoch)))
            stages.update(_seq(jd.stageIds()))
        exec_ms = shuffle = 0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — a stage that never ran
                continue       # (skipped: its shuffle output was reused)
            exec_ms += sd.executorRunTime()
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        wall = max(t1_epoch - t0_epoch, 1e-9)
        busy = _union_s([s for s in spans if s[1] > s[0]])
        return {"jobs": len(ids | lost), "jobs_lost_group": len(lost),
                "tasks": tasks, "executor_s": exec_ms / 1000,
                "shuffle_bytes": shuffle, "busy_s": busy,
                "gap_s": max(wall - busy, 0.0),
                "utilization": exec_ms / 1000 / (wall * self.cores)}
