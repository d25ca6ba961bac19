"""Spans and counters recorded from the benchmark process.

A span is (name, start, end, parent, run id) plus the Spark jobs,
stages and tasks it caused and the py4j calls made while it was open.
Jobs are attributed through ``SparkContext.setJobGroup``: each span
opens its own job group, so the counts of a span are its self counts
(jobs started inside a child span belong to the child). Spans live in
memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    run_id: str
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    py4j_calls: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class CpuClock:
    """CPU seconds, user plus system, that the driver Python process and
    its JVM have used so far, all threads included.

    Time during which the host runs another guest on this machine's
    virtual CPUs (steal) is not counted. On a contended host that time
    makes walls vary from run to run far more than CPU time does."""

    def __init__(self, jvm_pid: int):
        self._stats = ("/proc/self/stat", f"/proc/{jvm_pid}/stat")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        ticks = 0
        for path in self._stats:
            with open(path) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / self._tick


class Py4jCounter:
    """Counts commands sent over the py4j gateway client.

    Every Java method call, field read and object creation PySpark makes
    goes through ``GatewayClient.send_command``; the counter wraps that
    bound method on the session's client instance and restores it on
    :meth:`close`."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        del self._client.send_command  # the class method shows through again


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._counted = 0
        self.py4j = Py4jCounter(spark)

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(
            name=name,
            run_id=self.run_id,
            id=len(self.spans),
            parent=parent.id if parent else None,
            start=0.0,
        )
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(self._group(s), name)
        calls0 = self.py4j.calls
        s.start = time.perf_counter() - self.t0
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            inclusive = self.py4j.calls - calls0
            s.py4j_calls += inclusive
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                # self counts: the parent's window also covers this span
                parent.py4j_calls -= inclusive
                self.sc.setJobGroup(self._group(parent), parent.name)

    def collect_counts(self) -> None:
        """Fill in the job, stage and task counts of every closed span
        not yet counted. Waits for Spark's listener bus first, so every
        finished job is visible to the status tracker."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans[self._counted:]:
            for job_id in tracker.getJobIdsForGroup(self._group(s)):
                job = tracker.getJobInfo(job_id)
                if job is None:
                    continue
                s.jobs += 1
                for stage_id in job.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    # a stage whose shuffle output was reused runs no task
                    if stage is not None and stage.numCompletedTasks:
                        s.stages += 1
                        s.tasks += stage.numCompletedTasks
        self._counted = len(self.spans)

    def close(self) -> None:
        self.py4j.close()

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"context": context, "spans": [asdict(s) for s in self.spans]},
                fh,
                indent=1,
            )
