"""Spans and Spark stage metrics, recorded from the benchmark's side only.

A span wraps one call from the benchmark into a layer of the program: it
has a name, start, end and parent, and stays in memory until the run writes
them all out. A span opened with ``spark=True`` also runs its calls under
its own Spark job group, and on exit reads that group's jobs and stages
from the status tracker and status store (task counts, executor run and
CPU time, input, shuffle and output bytes).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "spark")

    def __init__(self, sid: int, parent: int | None, name: str, start: float):
        self.id, self.parent, self.name = sid, parent, name
        self.start, self.end = start, start
        self.spark: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {"id": self.id, "parent": self.parent, "name": self.name,
             "start": self.start, "end": self.end}
        if self.spark is not None:
            d["spark"] = self.spark
        return d


def stage_metrics(spark, group: str) -> dict:
    """Jobs and stages Spark ran under job group ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store lags the actions
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        stages.append({
            "id": sid,
            "name": str(sd.name()),
            "tasks": int(sd.numTasks()),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": int(sd.inputBytes()),
            "shuffle_read_bytes": int(sd.shuffleReadBytes()),
            "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
            "output_bytes": int(sd.outputBytes()),
        })
    total = {k: sum(s[k] for s in stages) for k in (
        "tasks", "run_s", "cpu_s", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "output_bytes")}
    return {"jobs": len(jobs), "stages": stages, **total}


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id") if spark else None
        group = f"perfbench-{sp.id}"
        if spark:
            sc.setJobGroup(group, name)
        self.cost_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = t1 = time.perf_counter()
            self._stack.pop()
            if spark:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, "")
                sp.spark = stage_metrics(self.spark, group)
            self.cost_s += time.perf_counter() - t1

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.seconds - child.get(sp.id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.as_dict() for s in self.spans],
                       "self_s": self.self_seconds()}, f)
