"""Tracing for the benchmark's traced run: spans, a py4j round-trip counter
and a parser for Spark's JSON event log.

Spans are recorded in memory around calls into the package's public
functions (installed by :func:`instrument`, from outside the package) and
written out when the run ends. Each live span runs its Spark jobs under its
own job group, so the event log attributes jobs to spans exactly; jobs that
carry no span's group (a streaming query's own jobs) are attributed by time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), optionally clipped to
    ``[lo, hi]``. Overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → self time: the span's wall time minus the part of its
    interval that its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - union_length(children.get(s.id, []), s.start, s.end) for s in spans
    }


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]
    stages_run: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> list[Job]:
    """Jobs with their task totals from Spark's JSON event log (one event
    per line). Times are in seconds since the epoch."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                start=ev["Submission Time"] / 1000.0,
                end=ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job[sid] = job.id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid].stages_run += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


@dataclass
class Tracer:
    """Spans and counts of one traced run. ``op`` is the index of the
    operation the next spans belong to (set by the workload loop)."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    op: int | None = None
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _quiet: bool = False

    def _set_group(self, group: str | None, name: str) -> None:
        # the tracer's own round trips are not counted
        self._quiet = True
        try:
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(group, name)
        finally:
            self._quiet = False

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"bench-span-{next(self._ids)}", name, time.time(),
                 parent=parent.id if parent else None, op=self.op)
        if self.sc is not None:
            self._quiet = True
            try:
                prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            finally:
                self._quiet = False
            self._set_group(s.id, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)
            if self.sc is not None:
                self._set_group(prev_group, "")

    def add_span(self, name: str, start: float, end: float, op: int | None) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        s = Span(f"bench-span-{next(self._ids)}", name, start, end, op=op)
        self.spans.append(s)
        return s

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def count_py4j(self, client_cls) -> None:
        """Count every Python→JVM round trip made through ``client_cls``."""
        send = client_cls.send_command

        @functools.wraps(send)
        def counted(client, *args, **kwargs):
            if not self._quiet:
                self.py4j_calls += 1
            return send(client, *args, **kwargs)

        client_cls.send_command = counted

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [s.__dict__ for s in self.spans],
                **extra,
            }, f)


def instrument(tracer: Tracer) -> None:
    """Install spans around the package's layer entry points. Only names
    looked up at call time are wrapped, so the package code is unchanged:
    ``analyze_statement`` resolves ``with_country`` through the ``pipeline``
    module globals, and the streaming path imports ``analyze_statement`` and
    ``assemble_reports_by_month`` when each batch runs."""
    from pyspark.sql.readwriter import DataFrameWriter
    from py4j.java_gateway import GatewayClient

    from aws_financial_data_pipeline_spark import pipeline
    from aws_financial_data_pipeline_spark.plans import report
    from aws_financial_data_pipeline_spark.sources.history import HistoryStore

    tracer.wrap(pipeline, "with_country", "statements.build")
    tracer.wrap(pipeline, "analyze_statement", "analyze")
    tracer.wrap(report, "assemble_reports_by_month", "report.build")
    tracer.wrap(DataFrameWriter, "json", "report.sink")
    tracer.wrap(HistoryStore, "read_summary", "history.read_summary")
    tracer.wrap(HistoryStore, "upsert", "history.upsert")
    tracer.count_py4j(GatewayClient)
