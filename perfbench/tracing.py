"""Spans around calls into the engine, and the offline fold of Spark's own
event log into per-layer metrics.

The benchmark wraps every call into the engine's public API in a span
named after the layer it exercises (`sources.index`, `spatial_join.call`,
...). When job labels are on, the span's key `<label>#<op>` is set as the
Spark job description, so each job, stage and task in the event log can be
attributed to the span (and the measured operation) that caused it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    label: str  # "<layer>.<step>"
    op: int  # measured operation index; negative for set-up and warm-up
    t0: float  # epoch seconds, the event log's clock
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans in memory. `labels=True` also tags Spark jobs with the
    span key (the traced run); the untraced run records spans only."""

    def __init__(self, sc=None, labels: bool = False):
        self.sc = sc
        self.labels = labels and sc is not None
        self.op = -1
        self.spans: list[Span] = []
        self.ops: list[Span] = []  # one span per whole operation

    @contextmanager
    def span(self, label: str):
        if self.labels:
            self.sc.setJobDescription(f"{label}#{self.op}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.labels:
                self.sc.setJobDescription(None)
            self.spans.append(Span(label, self.op, t0, t1))

    @contextmanager
    def operation(self, op: int, kind: str):
        self.op = op
        t0 = time.time()
        try:
            yield
        finally:
            self.ops.append(Span(kind, op, t0, time.time()))
            self.op = -1

    def measured(self) -> list[Span]:
        return [s for s in self.ops if s.op >= 0]

    def walls(self, label: str) -> list[float]:
        return [s.wall for s in self.spans if s.label == label and s.op >= 0]


# ------------------------------------------------------------ event log


@dataclass
class Job:
    key: str | None
    start: float
    end: float = 0.0


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int
    result_b: int
    accums: list  # [(accumulator id, update)]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_key: dict[int, str | None] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # accumulator id -> (plan node name, metric name, metric type)
    accum_meta: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    exec_key: dict[int, str | None] = field(default_factory=dict)
    driver_accums: list = field(default_factory=list)  # [(execution id, acc id, value)]


def _walk_plan(node: dict, meta: dict) -> None:
    for m in node.get("metrics", []):
        meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", []):
        _walk_plan(child, meta)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log (JSON lines)."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = Job(props.get("spark.job.description"), e["Submission Time"] / 1e3)
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    log.exec_key.setdefault(int(exec_id), props.get("spark.job.description"))
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                log.stage_key[e["Stage Info"]["Stage ID"]] = props.get("spark.job.description")
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                log.tasks.append(
                    Task(
                        stage=e["Stage ID"],
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        result_b=m.get("Result Size", 0),
                        accums=[
                            (a["ID"], _num(a.get("Update")))
                            for a in e["Task Info"].get("Accumulables", [])
                        ],
                    )
                )
            elif kind.endswith("SQLExecutionStart"):
                _walk_plan(e["sparkPlanInfo"], log.accum_meta)
                log.exec_key.setdefault(e["executionId"], e.get("description"))
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], log.accum_meta)
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    log.driver_accums.append((e["executionId"], acc_id, _num(value)))
    return log


def _split(key: str | None) -> tuple[str, int]:
    if not key or "#" not in key:
        return "", -1
    label, op = key.rsplit("#", 1)
    try:
        return label, int(op)
    except ValueError:
        return label, -1


def _scale(metric_type: str) -> float:
    """SQL metric update -> seconds / bytes / count."""
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Fold:
    """Sums over the jobs, tasks and SQL metrics of measured operations,
    selected by span label prefix."""

    def __init__(self, log: EventLog):
        self.log = log

    def _match(self, key, prefixes, setup: bool = False) -> bool:
        label, op = _split(key)
        return (setup or op >= 0) and any(label == p or label.startswith(p + ".") for p in prefixes)

    def jobs(self, *prefixes) -> list[Job]:
        return [j for j in self.log.jobs.values() if self._match(j.key, prefixes)]

    def tasks(self, *prefixes, setup: bool = False) -> list[Task]:
        keys = {s for s, k in self.log.stage_key.items() if self._match(k, prefixes, setup)}
        return [t for t in self.log.tasks if t.stage in keys]

    def sql(self, metric: str, *prefixes, node: str | tuple[str, ...] | None = None, setup: bool = False) -> float:
        """Sum of one named SQL metric (optionally only on plan nodes whose
        name starts with `node`, or with one of several), in seconds for
        timings. `setup=True` also takes the spans of set-up and warm-up."""

        def want(acc_id):
            meta = self.log.accum_meta.get(acc_id)
            if meta is None or meta[1] != metric:
                return None
            if node is not None and not meta[0].startswith(node):
                return None
            return _scale(meta[2])

        total = 0.0
        for t in self.tasks(*prefixes, setup=setup):
            for acc_id, upd in t.accums:
                s = want(acc_id)
                if s is not None:
                    total += upd * s
        for exec_id, acc_id, value in self.log.driver_accums:
            if self._match(self.log.exec_key.get(exec_id), prefixes, setup):
                s = want(acc_id)
                if s is not None:
                    total += value * s
        return total

    def job_time(self, span: Span) -> float:
        """Union of the intervals of the jobs a span ran; an operation's
        span (label "pass" or "query") takes every job of its operation."""
        ivs = []
        for j in self.log.jobs.values():
            label, op = _split(j.key)
            if op != span.op or not j.end:
                continue
            if span.label in ("pass", "query") or label == span.label:
                ivs.append((max(j.start, span.t0), min(j.end, span.t1)))
        return _union([iv for iv in ivs if iv[1] > iv[0]])

    def busy_time(self, t0: float, t1: float) -> float:
        """Union of the intervals of every job, labelled or not, that ran
        between t0 and t1."""
        return _union([
            (max(j.start, t0), min(j.end, t1)) for j in self.log.jobs.values()
            if j.end and min(j.end, t1) > max(j.start, t0)
        ])

    def task_skew(self, *prefixes) -> float:
        """Slowest task / median task of the heaviest stage, per operation,
        then the median over operations."""
        by_op: dict[int, dict[int, list[float]]] = {}
        for s, key in self.log.stage_key.items():
            if self._match(key, prefixes):
                by_op.setdefault(_split(key)[1], {})[s] = []
        stage_op = {s: op for op, stages in by_op.items() for s in stages}
        for t in self.log.tasks:
            if t.stage in stage_op:
                by_op[stage_op[t.stage]][t.stage].append(t.run_s)
        skews = []
        for stages in by_op.values():
            runs = max(stages.values(), key=sum, default=[])
            if runs and statistics.median(runs) > 0:
                skews.append(max(runs) / statistics.median(runs))
        return statistics.median(skews) if skews else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
