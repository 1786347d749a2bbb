"""Spark event-log reader: per-job, per-stage and per-task records, the
interval union behind ``driver_serial_s``, and SQL metrics read from the
final adaptive plan of each SQL execution.

The session writes an uncompressed, unrolled JSON-lines log
(``spark.eventLog.compress=false``); ``EventLog.read`` parses every file
in the log directory. Times in the log are epoch milliseconds.
"""
from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    job_id: int
    t0: int
    t1: int | None = None
    group: str | None = None
    sql_id: int | None = None
    stage_ids: tuple[int, ...] = ()


@dataclass
class Stage:
    stage_id: int
    name: str
    n_tasks: int
    t0: int | None
    t1: int | None


@dataclass
class Task:
    stage_id: int
    launch: int
    finish: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    records_read: int
    reduce: bool  # fetched shuffle blocks, i.e. a reduce-side task
    accums: dict[int, int] = field(default_factory=dict)


def _num(v) -> int:
    """Accumulable values are JSON numbers for internal task metrics and
    strings for SQL metrics."""
    if v is None:
        return 0
    try:
        return int(v)
    except (TypeError, ValueError):
        return int(float(v))


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_length(lo: float, hi: float,
                busy: list[tuple[float, float]]) -> float:
    """Time in [lo, hi] that no busy interval covers."""
    return max(0.0, (hi - lo) - union_length(busy, lo, hi))


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.tasks: list[Task] = []
        self.plans: dict[int, dict] = {}     # execution id -> final plan
        self.driver_accums: dict[int, int] = {}

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                            recursive=True)
                       if os.path.isfile(p))
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        log.add(json.loads(line))
        return log

    def add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                sql_id=int(sql_id) if sql_id not in (None, "") else None,
                stage_ids=tuple(ev.get("Stage IDs", ())))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.t1 = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            self.stages[si["Stage ID"]] = Stage(
                si["Stage ID"], si.get("Stage Name", "").split("\n")[0],
                si.get("Number of Tasks", 0),
                si.get("Submission Time"), si.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            self._add_task(ev)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last plan seen for an execution is its final plan
            self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", ()):
                self.driver_accums[acc_id] = (
                    self.driver_accums.get(acc_id, 0) + _num(value))

    def _add_task(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        inp = tm.get("Input Metrics") or {}
        accums = {a["ID"]: _num(a.get("Update"))
                  for a in info.get("Accumulables", ())
                  if "ID" in a and a.get("Update") is not None}
        self.tasks.append(Task(
            stage_id=ev["Stage ID"],
            launch=info.get("Launch Time", 0),
            finish=info.get("Finish Time", 0),
            run_ms=tm.get("Executor Run Time", 0),
            cpu_ns=tm.get("Executor CPU Time", 0),
            gc_ms=tm.get("JVM GC Time", 0),
            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
            spill_bytes=(tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0)),
            records_read=inp.get("Records Read", 0),
            reduce=(sr.get("Remote Blocks Fetched", 0)
                    + sr.get("Local Blocks Fetched", 0)) > 0,
            accums=accums))

    # -- selections -------------------------------------------------------

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values()
                if j.t0 >= t0 and (j.t1 or j.t0) <= t1]

    def jobs_in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stage_ids = {s for j in jobs for s in j.stage_ids}
        return [t for t in self.tasks if t.stage_id in stage_ids]

    # -- derived metrics --------------------------------------------------

    def summary(self, t0: float, t1: float, cores: int) -> dict[str, float]:
        """Whole-window metrics over the jobs submitted in [t0, t1] (ms)."""
        jobs = self.jobs_between(t0, t1)
        tasks = self.tasks_of(jobs)
        wall_ms = max(1.0, t1 - t0)
        run_ms = sum(t.run_ms for t in tasks)
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": len(tasks),
            "spark.task_run_s": run_ms / 1e3,
            "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "spark.utilization": run_ms / (wall_ms * cores),
            "spark.driver_serial_s": idle_length(
                t0, t1, [(t.launch, t.finish) for t in tasks]) / 1e3,
            "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes
                                             for t in tasks),
            "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
        }

    def reduce_task_skew(self, jobs: list[Job]) -> float:
        """max / median duration of the reduce-side tasks of ``jobs``."""
        durs = sorted(t.finish - t.launch for t in self.tasks_of(jobs)
                      if t.reduce)
        if not durs:
            return 1.0
        mid = durs[len(durs) // 2] if len(durs) % 2 else \
            (durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
        return durs[-1] / max(mid, 1)

    def sql_metric(self, jobs: list[Job], node_name: str,
                   metric_names: tuple[str, ...]) -> int:
        """Sum of the named SQL metrics over every ``node_name`` node in
        the final plans of the executions that ``jobs`` belong to."""
        acc_ids = set()
        for sql_id in {j.sql_id for j in jobs if j.sql_id is not None}:
            plan = self.plans.get(sql_id)
            if plan is None:
                continue
            for node in _walk(plan):
                if node.get("nodeName") != node_name:
                    continue
                acc_ids.update(m["accumulatorId"]
                               for m in node.get("metrics", ())
                               if m.get("name") in metric_names)
        total = sum(self.driver_accums.get(a, 0) for a in acc_ids)
        for t in self.tasks:
            for a in acc_ids & t.accums.keys():
                total += t.accums[a]
        return total
