"""Spans and Spark counters recorded from outside the program.

A ``Tracer`` keeps spans (name, start, end, parent, call id) in memory
around the benchmark's calls into the repository's public functions. Each
top-level call runs under its own Spark job group; right after the call
returns, the tracer folds that group's jobs and stages from Spark's status
store into counters (the store keeps a bounded number of jobs and stages,
so they are read at once). ``write`` puts spans, self times and counters
in one JSON file when the run ends.

With tracing off (``Tracer(None)``) every method is a no-op and no job
group is set.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # counter name -> StageData accessor
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "peak_exec_mem_bytes": "peakExecutionMemory",
    "gc_ms": "jvmGcTime",
}


class Tracer:
    def __init__(self, spark):
        self.on = spark is not None
        self.spark = spark
        self.spans: list[dict] = []
        self.calls: list[dict] = []  # one record per top-level call
        self._stack: list[int] = []
        self._next_call = 0

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        call_id = self.spans[parent]["call"] if parent is not None else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "call": call_id}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def call(self, kind: str):
        """A top-level call: a root span, its own job group, and a record
        of the Spark counters its jobs produced."""
        if not self.on:
            yield {}
            return
        call_id = self._next_call
        self._next_call += 1
        group = f"perfbench-{call_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        idx = len(self.spans)
        self.spans.append(
            {"name": kind, "start": time.perf_counter(), "end": None,
             "parent": None, "call": call_id}
        )
        self._stack.append(idx)
        rec = {"call": call_id, "kind": kind}
        try:
            yield rec
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["wall_ms"] = (self.spans[idx]["end"] - self.spans[idx]["start"]) * 1e3
            rec.update(self._counters(group))
            self.calls.append(rec)

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for stage in info.stageIds:
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # evicted or never submitted
                    continue
                if str(data.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for k, acc in STAGE_FIELDS.items():
                    v = int(getattr(data, acc)())
                    if k == "peak_exec_mem_bytes":
                        out[k] = max(out[k], v)
                    else:
                        out[k] += v
        return out

    # -- output ---------------------------------------------------------
    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover
        (children of one span never overlap: the loop is single-threaded)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def check_nesting(self) -> float:
        """Largest gap, in ms, between a root span's wall time and the sum
        of the self times in its subtree (0 when spans nest properly)."""
        own = self.self_times()
        root_of = []
        for i, s in enumerate(self.spans):
            root_of.append(i if s["parent"] is None else root_of[s["parent"]])
        totals: dict[int, float] = {}
        for i, r in enumerate(root_of):
            totals[r] = totals.get(r, 0.0) + own[i]
        gaps = [
            abs(totals[r] - (self.spans[r]["end"] - self.spans[r]["start"]))
            for r in totals
        ]
        return max(gaps, default=0.0) * 1e3

    def write(self, path: str, extra: dict) -> None:
        if not self.on:
            return
        t0 = self.spans[0]["start"] if self.spans else 0.0
        own = self.self_times()
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": own[i]}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "calls": self.calls, **extra}, f)


def plan(df) -> None:
    """Optimize and physically plan ``df`` on a fresh QueryExecution.

    The action that forces ``df`` plans on its own QueryExecution (a noop
    write wraps the plan in a new command; a memoized DataFrame has
    planned long ago), so timing this twin is how the driver-side
    planning cost of each call is seen. The action's own planning is
    part of the traced run's overhead."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL()
    analyzed = df._jdf.queryExecution().analyzed()
    spark._jsparkSession.sessionState().executePlan(analyzed, mode).executedPlan()


def span_median(tracer: Tracer, name: str) -> float:
    """Median duration in ms of the spans called ``name`` (0: none)."""
    d = [(s["end"] - s["start"]) * 1e3 for s in tracer.spans if s["name"] == name]
    return statistics.median(d) if d else 0.0


def layer_metrics(tracer, ncpu: int) -> dict[str, float]:
    """Per-call means of the Spark counters and the driver-side spans."""
    recs = tracer.calls
    n = max(len(recs), 1)
    tot = lambda k: sum(r.get(k, 0) for r in recs)
    wall_s = tot("wall_ms") / 1e3
    return {
        "driver.build_ms": span_median(tracer, "build"),
        "driver.plan_ms": span_median(tracer, "plan"),
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.exec_run_ms": tot("exec_run_ms") / n,
        "spark.exec_cpu_ms": tot("exec_cpu_ns") / 1e6 / n,
        "spark.cpu_util": (tot("exec_cpu_ns") / 1e9) / (wall_s * ncpu) if wall_s else 0.0,
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes") / n,
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes") / n,
        "spark.spill_bytes": (tot("mem_spill_bytes") + tot("disk_spill_bytes")) / n,
        "spark.peak_exec_mem_bytes": max((r["peak_exec_mem_bytes"] for r in recs), default=0),
        "spark.gc_ms": tot("gc_ms") / n,
        "spark.failed_tasks": tot("failed_tasks"),
    }
