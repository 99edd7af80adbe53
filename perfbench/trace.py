"""Traced-run collector: spans recorded around public calls and sink
actions, and Spark's event log attributed to them.

A span is ``(id, parent, name, start, end)``. While tracing, entering a
span sets the Spark job group ``pb:<id>`` on the calling thread, so
every job that thread submits names the span that caused it. Jobs
submitted from threads the program starts itself (no job group) are
attributed to the innermost span open at their submission time: the
benchmark is one closed-loop client, so spans never overlap except by
nesting.

The event log (``spark.eventLog.*``, plain JSON lines) is parsed after
the session stops. It gives per-task metrics (run time, GC, shuffle,
spill, output bytes), the stages of each job, RDD operation scopes of
each stage, and the physical plans of SQL executions with their
accumulator-backed node metrics (Python boundary bytes and rows,
output rows, broadcast sizes).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; sets Spark job groups only when ``enabled``."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name,
                  time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(f"pb:{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(f"pb:{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class Task:
    stage: int
    duration_s: float
    run_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    output_mb: float
    input_mb: float
    accums: dict = field(default_factory=dict)


@dataclass
class Job:
    id: int
    submit: float
    group: str | None
    execution: int | None
    stages: list


@dataclass
class Execution:
    id: int
    start: float
    group: str | None
    description: str
    plans: list = field(default_factory=list)
    driver_accums: dict = field(default_factory=dict)


class EventLog:
    """The parts of one application's event log the metrics need."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.stage_scopes: dict[int, set] = {}
        self.stage_window: dict[int, tuple[float, float]] = {}
        self.execs: dict[int, Execution] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1e3,
                props.get("spark.jobGroup.id"),
                int(eid) if eid is not None else None,
                list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = set()
            for rdd in si.get("RDD Info", []):
                if "Scope" in rdd:
                    scopes.add(json.loads(rdd["Scope"])["name"])
            self.stage_scopes[si["Stage ID"]] = scopes
            self.stage_window[si["Stage ID"]] = (
                si.get("Submission Time", 0) / 1e3,
                si.get("Completion Time", 0) / 1e3,
            )
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            sw = tm.get("Shuffle Write Metrics") or {}
            accums = {}
            for a in ti.get("Accumulables", []):
                if "Update" in a and not str(a.get("Name", "")).startswith(
                    "internal."
                ):
                    accums[a["ID"]] = _num(a["Update"])
            self.tasks.append(Task(
                stage=e["Stage ID"],
                duration_s=(ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                run_s=tm.get("Executor Run Time", 0) / 1e3,
                gc_s=tm.get("JVM GC Time", 0) / 1e3,
                shuffle_write_mb=sw.get("Shuffle Bytes Written", 0) / 1e6,
                spill_mb=(tm.get("Memory Bytes Spilled", 0)
                          + tm.get("Disk Bytes Spilled", 0)) / 1e6,
                output_mb=(tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 1e6,
                input_mb=(tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / 1e6,
                accums=accums,
            ))
        elif kind == "SparkListenerSQLExecutionStart":
            ex = Execution(
                e["executionId"], e["time"] / 1e3, e.get("jobGroupId"),
                e.get("physicalPlanDescription", ""),
            )
            ex.plans.append(e["sparkPlanInfo"])
            self.execs[ex.id] = ex
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.execs.get(e["executionId"])
            if ex is not None:
                ex.plans.append(e["sparkPlanInfo"])
                ex.description = e.get("physicalPlanDescription",
                                       ex.description)
        elif kind == "SparkListenerDriverAccumUpdates":
            ex = self.execs.get(e["executionId"])
            if ex is not None:
                for acc_id, val in e.get("accumUpdates", []):
                    ex.driver_accums[acc_id] = (
                        ex.driver_accums.get(acc_id, 0.0) + _num(val)
                    )


def walk(plan: dict):
    """Yield every node of a sparkPlanInfo tree (pre-order)."""
    yield plan
    for ch in plan.get("children", []):
        yield from walk(ch)


class Attribution:
    """Event-log facts grouped by the span that caused them."""

    def __init__(self, log: EventLog, spans: list[Span]) -> None:
        self.log = log
        self.spans = spans
        by_group = {f"pb:{sp.id}": sp.id for sp in spans}

        def owner(group: str | None, t: float) -> int | None:
            if group in by_group:
                return by_group[group]
            best = None
            for sp in spans:  # innermost = latest-started containing t
                if sp.start <= t <= sp.end:
                    best = sp.id
            return best

        self.job_span = {j.id: owner(j.group, j.submit)
                         for j in log.jobs.values()}
        self.exec_span = {x.id: owner(x.group, x.start)
                          for x in log.execs.values()}
        self.stage_job: dict[int, int] = {}
        for j in sorted(log.jobs.values(), key=lambda j: j.id):
            for s in j.stages:
                self.stage_job.setdefault(s, j.id)

    def jobs(self, span_ids: set) -> list[Job]:
        return [j for j in self.log.jobs.values()
                if self.job_span[j.id] in span_ids]

    def tasks(self, span_ids: set, stage_pred=None) -> list[Task]:
        out = []
        for t in self.log.tasks:
            jid = self.stage_job.get(t.stage)
            if jid is None or self.job_span[jid] not in span_ids:
                continue
            if stage_pred is not None and not stage_pred(t.stage):
                continue
            out.append(t)
        return out

    def executions(self, span_ids: set) -> list[Execution]:
        return [x for x in self.log.execs.values()
                if self.exec_span[x.id] in span_ids]

    def accum_totals(self, span_ids: set) -> dict:
        """accumulator id -> summed task and driver updates."""
        tot: dict = {}
        for t in self.tasks(span_ids):
            for k, v in t.accums.items():
                tot[k] = tot.get(k, 0.0) + v
        for x in self.executions(span_ids):
            for k, v in x.driver_accums.items():
                tot[k] = tot.get(k, 0.0) + v
        return tot


def task_summary(tasks: list[Task]) -> dict:
    """Totals over a task list, plus the skew of its longest stage
    (max / median task duration)."""
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew = 0.0
    if by_stage:
        longest = max(by_stage.values(),
                      key=lambda ts: sum(t.duration_s for t in ts))
        durs = [t.duration_s for t in longest]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "busy_s": sum(t.run_s for t in tasks),
        "tasks": len(tasks),
        "max_task_s": max((t.duration_s for t in tasks), default=0.0),
        "shuffle_mb": sum(t.shuffle_write_mb for t in tasks),
        "spill_mb": sum(t.spill_mb for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "output_mb": sum(t.output_mb for t in tasks),
        "input_mb": sum(t.input_mb for t in tasks),
        "task_skew": skew,
    }


def node_metric(nodes: list[dict], totals: dict, metric: str) -> float:
    """Sum of one named SQL metric over plan nodes; each accumulator is
    counted once even when several plan versions list it."""
    seen = set()
    val = 0.0
    for n in nodes:
        for m in n.get("metrics", []):
            if m["name"] == metric and m["accumulatorId"] not in seen:
                seen.add(m["accumulatorId"])
                val += totals.get(m["accumulatorId"], 0.0)
    return val


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    return files[0]
