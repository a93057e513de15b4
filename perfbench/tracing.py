"""Spans around layer calls, and Spark job metrics per span group.

A span is (name, start, end, parent, op id).  Spans stay in memory and
are written out once, when the run ends.  Self time of a layer is its
spans' duration minus the part covered by their child spans.

With tracing on, each op runs under its own Spark job group
(`setJobGroup`), so the jobs, stages and tasks it launched can be read
back per op from the driver's status store once the op has finished.
With tracing off the recorder keeps only the op spans the end-to-end
metrics need and touches nothing in Spark.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: int, force: bool = False):
        """Record a span; layer spans (force=False) only when tracing."""
        if not (self.enabled or force):
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(next(self._ids), name, op, parent, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[str, float]:
        """Summed self time per layer (the span name's first component)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children.get(s.sid, [])])
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


JOB_FIELDS = ("jobs", "stages", "tasks", "job_s", "executor_run_s",
              "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
              "input_rows", "input_bytes", "output_rows")


class SparkGroups:
    """Job groups per op and the metrics of the jobs each one ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._defaults = (
            getattr(self.store, "stageData$default$3")(),
            getattr(self.store, "stageData$default$5")(),
        )

    def begin(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def describe(self, description: str) -> None:
        self.sc.setJobDescription(description)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setJobDescription(None)

    def metrics(self, group: str) -> dict[str, float]:
        """Counters over every job the group launched, plus `job_s`:
        the wall time covered by at least one of those jobs."""
        out = dict.fromkeys(JOB_FIELDS, 0.0)
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                attempts = self.store.stageData(
                    it.next(), False, self._defaults[0], False, self._defaults[1]
                )
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["input_rows"] += sd.inputRecords()
                    out["input_bytes"] += sd.inputBytes()
                    out["output_rows"] += sd.outputRecords()
        out["job_s"] = _union_length(intervals)
        return out
