"""Spark work attributed to a timed call, read from Spark's status store.

Jobs are numbered in submission order by the DAG scheduler, so the jobs a
call ran are exactly the ids handed out between the call's start and end.
That holds for jobs submitted from any thread, including thread pools
inside the call, which a job group set on the calling thread misses.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from perfbench.stats import covered, overlap

_SETTLE_MS = 30_000


@dataclass
class Usage:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    # (start, end) wall-clock seconds of every stage that ran
    stage_intervals: list = field(default_factory=list)

    def add(self, other: "Usage") -> None:
        for k, v in vars(other).items():
            if k == "stage_intervals":
                self.stage_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)

    def stage_wall_s(self) -> float:
        return covered(self.stage_intervals)

    def driver_gap_s(self, op_intervals: list) -> float:
        """Time some timed call was running while no stage was."""
        return covered(op_intervals) - overlap(op_intervals, self.stage_intervals)


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        jvm = sc._jvm
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def _json(self, items) -> list[dict]:
        lst = self._jvm.java.util.ArrayList()
        for it in items:
            lst.add(it)
        return json.loads(self._mapper.writeValueAsString(lst))

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Status records of jobs ``lo <= id < hi`` still retained."""
        self._bus.waitUntilEmpty(_SETTLE_MS)
        found = []
        for jid in range(lo, hi):
            try:
                found.append(self._store.job(jid))
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                continue
        return self._json(found)

    def usage(self, lo: int, hi: int) -> Usage:
        jobs = self.jobs(lo, hi)
        stage_ids = sorted({sid for j in jobs for sid in j["stageIds"]})
        found = []
        for sid in stage_ids:
            try:
                found.append(self._store.lastStageAttempt(sid))
            except Py4JJavaError:
                continue
        u = Usage(jobs=len(jobs))
        for st in self._json(found):
            if st.get("submissionTime") is None or st["status"] == "SKIPPED":
                continue
            u.stages += 1
            u.tasks += st["numTasks"]
            u.failed_tasks += st["numFailedTasks"]
            u.executor_run_s += st["executorRunTime"] / 1e3
            u.executor_cpu_s += st["executorCpuTime"] / 1e9
            u.shuffle_read_bytes += st["shuffleReadBytes"]
            u.shuffle_write_bytes += st["shuffleWriteBytes"]
            u.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            u.input_bytes += st["inputBytes"]
            u.output_bytes += st["outputBytes"]
            end = st.get("completionTime") or st["submissionTime"]
            u.stage_intervals.append((st["submissionTime"] / 1e3, end / 1e3))
        return u
