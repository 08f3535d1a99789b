"""Spans and Spark counters for the traced benchmark run.

The benchmark wraps every call it makes into a layer's public functions in
a span (name, start, end, parent, op id).  Spans stay in memory and are
written out once, when the run ends.  Each span also runs under its own
Spark job group, set by the benchmark and never by the library, so the
jobs a layer call started can be read back from Spark's status store
after the op: job, stage and task counts, executor run time, shuffle
writes and spills.  Catalyst phase times come from the query executions
of the DataFrames the benchmark ran.

With tracing off every method is a no-op that records nothing and never
calls into the JVM, so untraced runs measure the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")
COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes")
IDLE_GROUP = "perfbench-idle"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.op_counters: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._op: dict | None = None

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {
            "name": name,
            "op": self._op["op"] if self._op else None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "group": f"perfbench-span-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else IDLE_GROUP)
            self.overhead_s += time.perf_counter() - rec["end"]

    def begin_op(self, op_id: int, kind: str) -> None:
        if self.enabled:
            self._op = {"op": op_id, "kind": kind, "groups": [], "plan_s": 0.0, "scans": []}

    def add_group(self, group: str) -> None:
        """Count another job group (a streaming query's run id) as this op's."""
        if self._op is not None:
            self._op["groups"].append(group)

    def executed(self, df) -> None:
        """Add the Catalyst phase times of a DataFrame the op executed."""
        if self._op is not None:
            t = time.perf_counter()
            self._op["plan_s"] += _phase_seconds(df)
            self.overhead_s += time.perf_counter() - t

    def planned(self, seconds: float) -> None:
        """Add planning time Spark reported itself (streaming progress)."""
        if self._op is not None:
            self._op["plan_s"] += seconds

    def scanned(self, df, returned: int) -> None:
        """Record rows a source scan read against rows it returned."""
        if self._op is not None:
            t = time.perf_counter()
            self._op["scans"].append((scan_rows_output(df), returned))
            self.overhead_s += time.perf_counter() - t

    def end_op(self, wall_s: float) -> None:
        """Collect the finished op's Spark counters, outside its latency."""
        if not self.enabled:
            return
        t = time.perf_counter()
        op, self._op = self._op, None
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        intervals: list[tuple[int, int]] = []
        totals = dict.fromkeys(COUNTERS, 0)
        for rec in [s for s in self.spans if s["op"] == op["op"]]:
            rec.update(_job_counters(store, tracker.getJobIdsForGroup(rec["group"]), intervals))
            for key in COUNTERS:
                totals[key] += rec[key]
        extra = _job_counters(
            store, [j for g in op["groups"] for j in tracker.getJobIdsForGroup(g)], intervals
        )
        for key in COUNTERS:
            totals[key] += extra[key]
        self.op_counters.append(
            {
                "op": op["op"], "kind": op["kind"], "wall_s": wall_s, **totals,
                "driver_s": max(0.0, wall_s - _union_ms(intervals) / 1000.0),
                "plan_s": op["plan_s"],
                "scans": op["scans"],
            }
        )
        self.overhead_s += time.perf_counter() - t

    # -- output ------------------------------------------------------------

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["op"] is not None]

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans, "ops": self.op_counters}, fh)


def _job_counters(store, job_ids, intervals: list) -> dict:
    """Sum the status-store figures of ``job_ids``; append each job's
    (submitted, completed) interval in ms to ``intervals``."""
    out = dict.fromkeys(COUNTERS, 0)
    for jid in sorted(set(job_ids)):
        job = store.job(jid)
        out["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append(
                (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
            )
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            stage = _last_attempt(store, stage_ids.apply(i))
            if stage is None or stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
            out["executor_run_s"] += stage.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


def _last_attempt(store, stage_id):
    try:
        return store.lastStageAttempt(stage_id)
    except Exception as exc:  # py4j wraps NoSuchElementException for unrun stages
        if "NoSuchElement" in str(exc):
            return None
        raise


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _phase_seconds(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0


def scan_rows_output(df) -> int:
    """Rows the source scan nodes of ``df``'s executed plan produced.

    Walks the physical plan, including adaptive query stages, and sums the
    ``numOutputRows`` metric of every scan node."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Scan" in cls:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return total
