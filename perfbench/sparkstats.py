"""Spark job and stage metrics per job group, read from the driver's
in-process AppStatusStore over py4j (works with ``spark.ui.enabled=false``).

Each timed call runs under its own job group, so its jobs and stages are
collected right after it returns. The session must raise
``spark.ui.retainedJobs``/``retainedStages`` (see ``box.spark_conf``):
with the default of 1000, older jobs are evicted and a call's job list
comes back short."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: (submission, completion) of each finished job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class StageCollector:
    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)
        self._no_status = sc._jvm.java.util.ArrayList()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str) -> GroupStats:
        out = GroupStats()
        stage_ids: set[int] = set()
        for jid in self.job_ids(group):
            job = self._store.job(jid)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.job_intervals.append((sub.get().getTime() / 1000.0,
                                          done.get().getTime() / 1000.0))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        if not out.job_intervals:
            return out
        # a job lists the stages it skipped because an earlier job (maybe
        # of another group) already ran them; only stages submitted after
        # this group's first job ran for this group
        first = min(a for a, _ in out.job_intervals)
        for sid in sorted(stage_ids):
            # stageData(id, details, taskStatus, withSummaries, quantiles)
            # returns a Scala Seq of the stage's attempts
            attempts = self._store.stageData(sid, False, self._no_status,
                                             False, self._empty)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                sub = s.submissionTime()
                if not sub.isDefined() or sub.get().getTime() / 1000.0 < first:
                    continue
                out.stages += 1
                out.tasks += int(s.numCompleteTasks()) + int(s.numFailedTasks())
                out.executor_run_s += s.executorRunTime() / 1000.0
                out.executor_cpu_s += s.executorCpuTime() / 1e9
                out.gc_s += s.jvmGcTime() / 1000.0
                out.shuffle_read_bytes += int(s.shuffleReadBytes())
                out.shuffle_write_bytes += int(s.shuffleWriteBytes())
                out.spill_bytes += (int(s.memoryBytesSpilled())
                                    + int(s.diskBytesSpilled()))
        return out
