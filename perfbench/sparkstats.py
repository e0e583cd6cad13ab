"""Exact per-op Spark work counts and session cache state.

Each benchmark op runs under its own job group. After the op, the
listener bus is drained (the status store is filled asynchronously) and
``statusTracker()`` gives the group's jobs, the stages of those jobs
that ran, and the tasks those stages completed. These are counts, not
timings: with the same inputs and seed they repeat exactly from run to
run.
"""

from __future__ import annotations

from contextlib import contextmanager


class JobCounter:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jobs = self.stages = self.tasks = 0
        self._next = 0
        self._stack: list[str] = []

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group and add its counts. Groups
        nest: an inner group takes over until it ends, then the outer one
        is restored."""
        group = f"perfbench-{self._next}-{label}"
        self._next += 1
        self._stack.append(group)
        self.sc.setJobGroup(group, label, False)
        try:
            yield
        finally:
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], label, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count(group)

    def _count(self, group: str) -> None:
        # the status store is fed by the listener bus; wait until every
        # event of the finished jobs has been applied
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                self.jobs += 1
                stage_ids.update(info.stageIds)
        # a stage counts when it ran tasks: whether a job lists an already
        # computed (skipped) stage is not stable from run to run
        for sid in stage_ids:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                self.stages += 1
                self.tasks += stage.numCompletedTasks


def cache_state(spark) -> tuple[int, int]:
    """(cached RDDs, bytes they hold in memory and on disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
