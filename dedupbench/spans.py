"""Spans read from Spark's own status store.

A span tags every job it triggers with one job group, then sums the
stage metrics of those jobs from the AppStatusStore, which keeps them with
the UI disabled. CPU comes from procfs instead, because executor CPU time
misses the Python workers that run the UDFs. The physical plans of a span's
queries come from the SQL status store, so a path the program chose at run
time can be read from outside. Spans are kept in memory and reported when
the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from host import tree_cpu_s


@dataclass
class Span:
    name: str
    group: str = ""  # the job group, also the description of its queries
    wall_s: float = 0.0
    jobs: int = 0
    cpu_s: float = 0.0  # process-tree CPU: driver, JVM and Python workers
    shuffle_bytes: int = 0  # shuffle write
    spill_bytes: int = 0  # memory + disk spill
    task_skew: float = 1.0  # max / mean task run time of the heaviest stage
    counts: dict = field(default_factory=dict)


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def plans(self, span: Span) -> list[str]:
        """Physical plans of the SQL queries the span ran."""
        out = []
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.description() == span.group:
                out.append(e.physicalPlanDescription())
        return out

    def group_stats(self, group: str, span: Span) -> None:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        span.jobs = len(job_ids)
        heaviest = (0, None)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            span.shuffle_bytes += sd.shuffleWriteBytes()
            span.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.numTasks() >= 2 and sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), sd)
        if heaviest[1] is not None:
            sd = heaviest[1]
            times = []
            it = self.store.taskList(sd.stageId(), sd.attemptId(), sd.numTasks()).iterator()
            while it.hasNext():
                m = it.next().taskMetrics()
                if m.isDefined():
                    times.append(m.get().executorRunTime())
            if times and sum(times):
                span.task_skew = max(times) / (sum(times) / len(times))

    @contextmanager
    def span(self, name: str, sink: list[Span] | None = None):
        """Time the block and attribute its jobs to a span named ``name``."""
        self._n += 1
        group = f"bench-{self._n}-{name}"
        self.sc.setJobGroup(group, group)
        span = Span(name, group)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            span.cpu_s = tree_cpu_s() - c0
            self.sc.setJobGroup("bench-idle", "idle")
        self.group_stats(group, span)
        if sink is not None:
            sink.append(span)
