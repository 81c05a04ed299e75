"""Spans and per-layer counts from the benchmark's own timers plus Spark's
event log.

The benchmark records one root span per operation (one trace id each) and
child spans around the calls it makes into a dq layer. Spark work is
joined to an operation by a job tag (``pb-<trace id>``) set while the
operation runs: every SQL execution and job started inside carries it. The
span tree is therefore

    benchmark operation -> SQL execution -> job -> stage -> task

and a layer's self time is its span minus the part its children cover
(for an operation: its wall time minus the union of its SQL executions,
i.e. driver-side orchestration between Spark jobs).

Only uncompressed event logs are read (the benchmark sets
``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "pb-"


# ----------------------------------------------------------------- stats --


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ----------------------------------------------------------------- spans --


@dataclass
class Span:
    span_id: int
    trace_id: int
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """In-memory span recorder. ``op`` opens a root span with a fresh trace
    id and, when a SparkContext is given, tags every Spark job it starts."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            trace_id=parent.trace_id if parent else len(self.spans),
            name=name,
            start_ms=time.time() * 1000.0,
            parent=parent.span_id if parent else None,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        tagged = parent is None and self.sc is not None
        if tagged:
            self.sc.addJobTag(f"{TAG_PREFIX}{s.trace_id}")
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            if tagged:
                self.sc.removeJobTag(f"{TAG_PREFIX}{s.trace_id}")
            self._stack.pop()

    def roots(self, name: str | None = None, **attrs) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.parent is None
            and (name is None or s.name == name)
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def children(self, root: Span, name: str | None = None) -> list[Span]:
        out, frontier = [], {root.span_id}
        for s in self.spans:  # spans are appended in start order
            if s.parent in frontier:
                frontier.add(s.span_id)
                if name is None or s.name == name:
                    out.append(s)
        return out


# ------------------------------------------------------------- event log --


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``
    (rolling ``eventlog_v2_*`` directories or a plain file)."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus") or n.endswith(".crc"):
                continue
            if n.endswith((".zstd", ".lz4", ".snappy", ".lzf", ".inprogress")):
                raise ValueError(f"compressed or unfinished event log: {n}")
            files.append(os.path.join(dirpath, n))

    def order(path: str):
        base = os.path.basename(path)
        part = base.split("_")[1] if base.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0)

    events = []
    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


@dataclass
class Execution:
    eid: int
    root: int
    tags: set
    start: float
    end: float = 0.0
    description: str = ""


@dataclass
class Metric:
    eid: int
    node: str
    name: str
    mtype: str
    plan: str
    value: float = 0.0


class EventLog:
    """Indexes one application's events for per-operation attribution."""

    def __init__(self, events: list[dict]):
        self.executions: dict[int, Execution] = {}
        self.job_tags: dict[int, set] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.metrics: dict[int, Metric] = {}
        self.tasks: list[dict] = []
        self.storage_memory = 0
        self.block_bytes: dict[str, int] = {}
        for e in events:
            kind = _short(e["Event"])
            handler = getattr(self, f"_on_{kind}", None)
            if handler is not None:
                handler(e)

    # -- handlers -----------------------------------------------------------

    def _on_SparkListenerBlockManagerAdded(self, e):
        self.storage_memory = max(self.storage_memory, int(e.get("Maximum Memory", 0)))

    def _register(self, acc_id: int, eid: int, node: str, name: str, mtype: str, plan: str):
        # the first registration fixes the execution; a later plan update
        # may add the operator the metric belongs to
        m = self.metrics.get(acc_id)
        if m is None:
            self.metrics[acc_id] = Metric(eid, node, name, mtype, plan)
        elif node and not m.node:
            m.node, m.plan = node, plan

    def _walk_plan(self, eid: int, plan: dict):
        for m in plan.get("metrics", []):
            self._register(
                m["accumulatorId"], eid, plan["nodeName"], m["name"], m["metricType"],
                plan.get("simpleString", ""),
            )
        for child in plan.get("children", []):
            self._walk_plan(eid, child)

    def _on_SparkListenerSQLExecutionStart(self, e):
        eid = e["executionId"]
        self.executions[eid] = Execution(
            eid, e.get("rootExecutionId", eid), set(e.get("jobTags") or []),
            float(e["time"]), description=e.get("description", ""),
        )
        self._walk_plan(eid, e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._walk_plan(e["executionId"], e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveSQLMetricUpdates(self, e):
        for m in e.get("sqlPlanMetrics", []):
            self._register(m["accumulatorId"], e["executionId"], "", m["name"], m["metricType"], "")

    def _on_SparkListenerSQLExecutionEnd(self, e):
        if e["executionId"] in self.executions:
            self.executions[e["executionId"]].end = float(e["time"])

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e.get("accumUpdates", []):
            if acc_id in self.metrics:
                self.metrics[acc_id].value += float(value)

    def _on_SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        jid = e["Job ID"]
        tags = props.get("spark.job.tags", "")
        self.job_tags[jid] = {t for t in tags.split(",") if t}
        eid = props.get("spark.sql.execution.id")
        self.job_exec[jid] = int(eid) if eid not in (None, "") else None
        for sid in e.get("Stage IDs", []):
            self.stage_job[sid] = jid

    def _on_SparkListenerBlockUpdated(self, e):
        # needs spark.eventLog.logBlockUpdates.enabled; rdd_<id>_<part>
        info = e.get("Block Updated Info", {})
        block = info.get("Block ID", "")
        if block.startswith("rdd_"):
            size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
            self.block_bytes[block] = max(self.block_bytes.get(block, 0), size)

    @property
    def rdd_bytes(self) -> dict[int, int]:
        """Largest size each persisted RDD reached (sum over its blocks)."""
        out: dict[int, int] = defaultdict(int)
        for block, size in self.block_bytes.items():
            out[int(block.split("_")[1])] += size
        return dict(out)

    def _on_SparkListenerTaskEnd(self, e):
        info = e.get("Task Info", {})
        for acc in info.get("Accumulables", []):
            m = self.metrics.get(acc.get("ID"))
            if m is not None and acc.get("Update") is not None:
                try:
                    m.value += float(acc["Update"])
                except (TypeError, ValueError):
                    pass
        tm = e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics", {})
        sr = tm.get("Shuffle Read Metrics", {})
        self.tasks.append(
            {
                "stage": e["Stage ID"],
                "failed": e.get("Task End Reason", {}).get("Reason") != "Success",
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "records_read": tm.get("Input Metrics", {}).get("Records Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            }
        )

    # -- attribution --------------------------------------------------------

    def op_view(self, trace_id: int) -> "OpView":
        tag = f"{TAG_PREFIX}{trace_id}"
        eids = {x.eid for x in self.executions.values() if tag in x.tags}
        eids |= {x.eid for x in self.executions.values() if x.root in eids}
        jobs = {j for j, tags in self.job_tags.items() if tag in tags}
        jobs |= {j for j, eid in self.job_exec.items() if eid in eids}
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        return OpView(self, eids, jobs, stages)


class OpView:
    """The Spark work one benchmark operation caused."""

    def __init__(self, log: EventLog, eids: set, jobs: set, stages: set):
        self.log, self.eids, self.jobs, self.stages = log, eids, jobs, stages
        self.tasks = [t for t in log.tasks if t["stage"] in stages]

    @property
    def root_executions(self) -> list[Execution]:
        return [x for x in (self.log.executions[e] for e in self.eids) if x.root == x.eid]

    def sql_intervals(self) -> list[tuple[float, float]]:
        return [(x.start, x.end or x.start) for x in self.root_executions]

    def metric(self, name: str, node_prefix: str = "", plan_contains: str = "") -> float:
        """Sum of one SQL metric over this operation's plans, in its native
        unit (timing: ms, nsTiming: converted to ms, size: bytes)."""
        total = 0.0
        for m in self.log.metrics.values():
            if (
                m.eid in self.eids
                and m.name == name
                and m.node.startswith(node_prefix)
                and plan_contains in m.plan
            ):
                total += m.value / 1e6 if m.mtype == "nsTiming" else m.value
        return total

    def task_sum(self, key: str) -> float:
        return float(sum(t[key] for t in self.tasks))

    def failed_tasks(self) -> int:
        return sum(1 for t in self.tasks if t["failed"])
