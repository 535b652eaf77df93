"""Spans recorded by the benchmark around its calls into the library, and
per-stage task metrics parsed from the Spark event log.

A span has a name, start, end, parent and run id.  In a traced run every
span also sets its own Spark job group, so each job (and each stage it
submits) in the event log carries the id of the innermost span that was
open when it started.  Self time is a span's duration minus the part of
it covered by its child spans.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    span_id: str
    name: str
    start: float  # epoch seconds, same clock as the event log
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Stack of open spans.  ``attach(sc)`` makes each span set a job group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(f"{self.run_id}:{len(self.spans)}", name, time.time(), float("nan"),
                 parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> duration minus the part of it covered by its children."""
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.span_id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - union_length(covered)
    return out


def descendants(spans: list[Span], root_id: str) -> set[str]:
    """Ids of ``root_id`` and every span below it."""
    kids: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.span_id)
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


# -- event log ---------------------------------------------------------------


@dataclass
class StageStats:
    group: str | None = None
    submit: float | None = None  # epoch seconds
    complete: float | None = None
    tasks: int = 0
    task_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0


@dataclass
class JobStats:
    group: str | None
    sql_id: int | None
    submit: float
    end: float | None = None


@dataclass
class SqlExec:
    """One top-level SQL execution (one DataFrame action or write)."""

    start: float
    end: float | None
    is_write: bool


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    stages: dict[tuple[int, int], StageStats] = field(default_factory=dict)
    sql: dict[int, SqlExec] = field(default_factory=dict)


_WRITE_CALL = re.compile(r"DataFrameWriter|saveAsTable|insertInto")


def event_log_files(log_dir: str) -> list[str]:
    """The event log file(s) of the one application logged under ``log_dir``
    (a single file, or the ``events_*`` parts of a rolling log)."""
    (name,) = os.listdir(log_dir)
    path = os.path.join(log_dir, name)
    if not os.path.isdir(path):
        return [path]
    parts = [p for p in os.listdir(path) if p.startswith("events_")]
    return [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> EventLog:
    """Jobs, top-level SQL executions and per-stage-attempt task totals."""
    log = EventLog()
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = JobStats(
                props.get("spark.jobGroup.id"),
                None if sql_id is None else int(sql_id),
                ev["Submission Time"] / 1000.0,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind.endswith(".SparkListenerSQLExecutionStart"):
            if ev.get("rootExecutionId", ev["executionId"]) == ev["executionId"]:
                call = (ev.get("details") or "").split("\n", 1)[0]
                log.sql[ev["executionId"]] = SqlExec(
                    ev["time"] / 1000.0, None, bool(_WRITE_CALL.search(call)))
        elif kind.endswith(".SparkListenerSQLExecutionEnd"):
            ex = log.sql.get(ev["executionId"])
            if ex is not None:
                ex.end = ev["time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(
                (info["Stage ID"], info["Stage Attempt ID"]), StageStats())
            st.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(
                (info["Stage ID"], info["Stage Attempt ID"]), StageStats())
            if info.get("Submission Time") is not None:
                st.submit = info["Submission Time"] / 1000.0
            if info.get("Completion Time") is not None:
                st.complete = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = log.stages.setdefault(
                (ev["Stage ID"], ev["Stage Attempt ID"]), StageStats())
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            st.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            # rows, not bytes: Spark's parquet reader fetches through a
            # thread pool whose reads escape the per-task byte counter
            st.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return log


@dataclass
class SpanWork:
    """Spark work started while one set of spans was innermost."""

    jobs: int = 0
    task_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0
    stage_intervals: list = field(default_factory=list)
    sql_ids: set = field(default_factory=set)


def work_for(log: EventLog, span_ids: set[str]) -> SpanWork:
    w = SpanWork()
    for job in log.jobs.values():
        if job.group in span_ids:
            w.jobs += 1
            if job.sql_id in log.sql:
                w.sql_ids.add(job.sql_id)
    for st in log.stages.values():
        if st.group not in span_ids:
            continue
        w.task_s += st.task_s
        w.fetch_wait_s += st.fetch_wait_s
        w.shuffle_write_mb += st.shuffle_write_bytes / MB
        w.input_rows += st.input_records
        w.output_mb += st.output_bytes / MB
        if st.submit is not None and st.complete is not None:
            w.stage_intervals.append((st.submit, st.complete))
    return w


def spark_active_s(work: SpanWork, start: float, end: float) -> float:
    """Time within [start, end] during which any Spark stage was running."""
    clipped = [(max(s, start), min(e, end)) for s, e in work.stage_intervals if e > start and s < end]
    return union_length(clipped)


def bookkeeping_s(log: EventLog, work: SpanWork) -> float:
    """Wall of the actions that follow a stage's last checkpoint write: the
    row count and partition histogram ``DedupPipeline`` runs per stage."""
    execs = sorted((log.sql[i] for i in work.sql_ids), key=lambda e: e.start)
    last_write = max((k for k, e in enumerate(execs) if e.is_write), default=None)
    if last_write is None:
        return 0.0
    return sum(e.end - e.start for e in execs[last_write + 1:] if e.end is not None)
