"""Per-operation Spark accounting read from the driver's AppStatusStore.

``OpTrace`` brackets one library call: it notes the newest job and stage ids
before the call, and after it reads the jobs and stages that are newer. The
store lists both newest first, so a read touches only the call's own
entries, and the stage records cross py4j as one JSON string (the REST API's
own Jackson mapping), not one round trip per field.

From those records it derives the engine.<op>.* metrics: counts, task and
CPU seconds, shuffle/spill/IO bytes, and the split of the call's wall time
into ``jobs_s`` (some Spark job was running) and ``driver_s`` (none was).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

MB = 1e6

ENGINE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "driver_s",
    "jobs_s",
    "task_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
    "slot_busy_frac",
)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    """One traced operation and, as children, the Spark jobs it ran."""

    op: str
    start: float
    end: float
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    # Wall spent reading the status store around the call, outside [start, end].
    overhead_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def job_intervals(self) -> list[tuple[float, float]]:
        """(submitted, completed) of each job, in epoch seconds; a job with
        no completion time yet ends at the span's end."""
        return [
            (j["submissionTime"] / 1e3, (j.get("completionTime") or self.end * 1e3) / 1e3)
            for j in self.jobs
            if j.get("submissionTime")
        ]

    def outside_s(self) -> float:
        """Job time that falls outside [start, end]. The store's clock has
        millisecond resolution, so a correctly attributed job reads at most a
        few ms here; more means a job of another call was counted."""
        return sum(
            max(0.0, self.start - s) + max(0.0, e - self.end) for s, e in self.job_intervals()
        )

    def engine(self, cores: int) -> dict[str, float]:
        jobs_s = union_seconds(self.job_intervals(), self.start, self.end)
        st = self.stages
        task_s = sum(s.get("executorRunTime", 0) for s in st) / 1e3
        out = {
            "jobs": len(self.jobs),
            "stages": len(st),
            "tasks": sum(s.get("numTasks", 0) for s in st),
            "driver_s": self.wall_s - jobs_s,
            "jobs_s": jobs_s,
            "task_s": task_s,
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / MB,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in st) / MB,
            "spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st
            )
            / MB,
            "input_mb": sum(s.get("inputBytes", 0) for s in st) / MB,
            "output_mb": sum(s.get("outputBytes", 0) for s in st) / MB,
            "slot_busy_frac": task_s / (jobs_s * cores) if jobs_s > 0 else 0.0,
        }
        return out


class StatusStore:
    """Thin reader over ``SparkContext.statusStore()`` via py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def newest_ids(self) -> tuple[int, int]:
        """(newest job id, newest stage id) known to the store, -1 if none."""
        jobs = self._store.jobsList(self._empty)
        stages = self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        job = jobs.head().jobId() if jobs.nonEmpty() else -1
        stage = stages.head().stageId() if stages.nonEmpty() else -1
        return job, stage

    def _newer(self, seq, key: str, newest_seen: int) -> list[dict]:
        """Entries of a newest-first ``seq`` whose ``key`` exceeds
        ``newest_seen``; serializes a growing prefix, not the whole list."""
        n = 32
        while True:
            rows = self._json(seq.take(n))
            if len(rows) < n or rows[-1][key] <= newest_seen:
                return [r for r in rows if r[key] > newest_seen]
            n *= 4

    def since(self, ids: tuple[int, int]) -> tuple[list[dict], list[dict]]:
        """Jobs and stages created after ``ids`` (as from ``newest_ids``)."""
        self.drain()
        jobs = self._store.jobsList(self._empty)
        stages = self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        return (
            self._newer(jobs, "jobId", ids[0]),
            self._newer(stages, "stageId", ids[1]),
        )


class OpTrace:
    """Context manager that records one Span per library call."""

    def __init__(self, store: StatusStore, spans: list[Span], op: str):
        self.store, self.spans, self.op = store, spans, op

    def __enter__(self) -> OpTrace:
        t0 = time.perf_counter()
        self.store.drain()
        self.ids = self.store.newest_ids()
        self.cost = time.perf_counter() - t0
        self.start = time.time()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        end = time.time()
        t0 = time.perf_counter()
        jobs, stages = self.store.since(self.ids)
        self.cost += time.perf_counter() - t0
        self.spans.append(Span(self.op, self.start, end, jobs, stages, self.cost))
