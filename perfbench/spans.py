"""Span recorder and Spark event-log parser for the traced run.

A span is recorded around every call the benchmark makes into one layer's
public functions. Spans live in memory and are written out once, at the
end. While a span is open its id is the SparkContext job description, so
every job Spark runs inside it is attributed to it in the event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float             # epoch seconds, the clock Spark's event log uses
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


DESC_PREFIX = "span:"


class Tracer:
    """Nested spans with parent links and a per-request id.

    ``sc`` is the SparkContext whose job description follows the innermost
    open span; a disabled tracer records nothing and never calls Spark.
    """

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(None if span is None else f"{DESC_PREFIX}{span.id}")

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, parent.id if parent else None, request, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in kids.get(span.id, [])], span.start, span.end
    )


def subtree(span: Span, kids: dict[int, list[Span]]) -> set[int]:
    out, todo = set(), [span]
    while todo:
        s = todo.pop()
        out.add(s.id)
        todo.extend(kids.get(s.id, []))
    return out


# ------------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    span: int | None
    start: float                     # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    scan_bytes: int = 0              # size of the files its scans read (SQL metric)
    rows_scanned: int = 0            # rows out of table scans (SQL metric)
    output_bytes: int = 0
    execution: int | None = None     # SQL execution id


_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _is_table_scan(node_name: str) -> bool:
    """File and cached-table scans; not the scans of driver-side rows."""
    return node_name == "InMemoryTableScan" or (
        node_name.startswith("Scan ") and node_name != "Scan ExistingRDD"
    ) or node_name.startswith("FileScan")


def _scan_metrics(plan: dict, name: str, out: set[int]) -> None:
    """Accumulator ids of the metric ``name`` of every table scan."""
    if _is_table_scan(plan.get("nodeName", "")):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m.get("name") == name)
    for child in plan.get("children", []):
        _scan_metrics(child, name, out)


def parse_event_log(path: str) -> list[Job]:
    """Jobs of one Spark application's JSON event log, each with the sums
    of its tasks' metrics and the span id from its job description."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    scan_rows: set[int] = set()
    scan_size: set[int] = set()
    execution_bytes: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in _PLAN_EVENTS:
                plan = ev.get("sparkPlanInfo") or {}
                _scan_metrics(plan, "number of output rows", scan_rows)
                _scan_metrics(plan, "size of files read", scan_size)
            elif kind == _DRIVER_ACCUMS:
                execution_bytes[ev["executionId"]] = execution_bytes.get(ev["executionId"], 0) + sum(
                    int(v) for acc, v in ev.get("accumUpdates", []) if acc in scan_size
                )
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                span = int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None
                job = Job(ev["Job ID"], span, ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]))
                if props.get("spark.sql.execution.id") is not None:
                    job.execution = int(props["spark.sql.execution.id"])
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job[sid] = job.id
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1e3
                job.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                job.shuffle_records += wr.get("Shuffle Records Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job.rows_scanned += sum(
                    int(a.get("Update", 0))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("ID") in scan_rows
                )
    # a scan's file size is a driver-side metric of its SQL execution;
    # count it once, on the execution's first job
    for j in sorted(jobs.values(), key=lambda j: j.id):
        j.scan_bytes = execution_bytes.pop(j.execution, 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def find_event_log(directory: str) -> str:
    """The single application log Spark wrote under ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


class Attribution:
    """Spans joined with the jobs that ran inside them."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.kids = children(spans)
        self.by_span: dict[int, list[Job]] = {}
        for j in jobs:
            if j.span is not None:
                self.by_span.setdefault(j.span, []).append(j)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs(self, span: Span) -> list[Job]:
        """Jobs submitted inside ``span`` or any span below it."""
        return [j for sid in subtree(span, self.kids) for j in self.by_span.get(sid, [])]

    def exec_s(self, span: Span) -> float:
        """Wall time inside ``span`` during which at least one job ran."""
        return covered(
            [(j.start, j.end if j.end is not None else span.end) for j in self.jobs(span)],
            span.start,
            span.end,
        )

    def driver_s(self, span: Span) -> float:
        """Wall time inside ``span`` not covered by any Spark job:
        planning, py4j and driver-side Python."""
        return span.duration - self.exec_s(span)

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time, the time its jobs
        ran and the ids of those jobs."""
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row.update(
                    self_s=self_time(s, self.kids),
                    exec_s=self.exec_s(s),
                    driver_s=self.driver_s(s),
                    jobs=[j.id for j in self.by_span.get(s.id, [])],
                )
                f.write(json.dumps(row) + "\n")
