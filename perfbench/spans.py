"""Spans around calls into the program, and their join with Spark's event log.

The traced run records one span per call the benchmark makes into a layer
(name, start, end, parent span, operation id) and tags every Spark job the
call starts with ``setJobDescription("perfbench:<span id>:<name>")``. After
the session stops, :func:`span_stats` reads the uncompressed JSON event log
and charges each task, stage, job and SQL execution to the span whose
description it carries, then rolls the counts up to every ancestor span.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PREFIX = "perfbench:"

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when attached to a session; does nothing otherwise, so
    the same workload code runs traced and untraced."""

    def __init__(self) -> None:
        self.spark = None
        self.spans: list[Span] = []
        self.current: str | None = None  # description of the innermost span
        self._stack: list[int] = []
        self._ops = 0

    @property
    def active(self) -> bool:
        return self.spark is not None

    def attach(self, spark) -> None:
        self.spark = spark

    def new_op(self) -> int:
        self._ops += 1
        return self._ops

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        span = Span(len(self.spans), name, parent, op, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.id)
        self._describe(span.id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def _describe(self, sid: int | None) -> None:
        self.current = None if sid is None else f"{PREFIX}{sid}:{self.spans[sid].name}"
        self.spark.sparkContext.setJobDescription(self.current)


@dataclass
class SpanStats:
    """Spark work charged to a span (and, after roll-up, its descendants)."""

    jobs: int = 0
    checkpoint_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    files_read: int = 0

    def add(self, other: "SpanStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _span_id(description: str | None) -> int | None:
    if not description or not description.startswith(PREFIX):
        return None
    return int(description[len(PREFIX):].split(":", 1)[0])


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (rolling or single-file) log under ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    files += [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    events = []
    for path in sorted(files):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, out)


def span_stats(events: list[dict], spans: list[Span]) -> dict[int, SpanStats]:
    """Per span, the Spark work it and its descendants caused."""
    own = {s.id: SpanStats() for s in spans}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    files: dict[tuple[int, int], int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            sid = _span_id(e.get("Properties", {}).get("spark.job.description"))
            if sid in own:
                own[sid].jobs += 1
                names = " ".join(s.get("Stage Name", "") for s in e.get("Stage Infos", []))
                if "heckpoint" in names:
                    own[sid].checkpoint_jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_id(e.get("Properties", {}).get("spark.job.description"))
            if sid in own:
                stage_span[e["Stage Info"]["Stage ID"]] = sid
                own[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None:
                continue
            st = own[sid]
            st.tasks += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                st.task_failures += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        elif kind.endswith("SQLExecutionStart"):
            sid = _span_id(e.get("description"))
            if sid in own:
                exec_span[e["executionId"]] = sid
            _metric_names(e.get("sparkPlanInfo", {}), metric_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _metric_names(e.get("sparkPlanInfo", {}), metric_names)
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in e.get("accumUpdates", []):
                files[(e["executionId"], acc)] = value
    for (exec_id, acc), value in files.items():
        sid = exec_span.get(exec_id)
        if sid is not None and metric_names.get(acc) == "number of files read":
            own[sid].files_read += value

    total = {s.id: SpanStats() for s in spans}
    for s in spans:  # roll each span's own work up to itself and every ancestor
        sid: int | None = s.id
        while sid is not None:
            total[sid].add(own[s.id])
            sid = spans[sid].parent
    return total
