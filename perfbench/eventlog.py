"""Read Spark's JSON event log with the standard library only.

The traced run writes an uncompressed, unrolled event log (the zstd
default needs a module that is not installed). This module folds it
into per-label totals: a label is whatever ``locate`` returns for a
job. Jobs carry the benchmark's job-group label; jobs started on
threads that do not inherit it (streaming micro-batches) are placed by
their submission time.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field, fields
from datetime import datetime, timezone

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS = "number of output rows"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Totals:
    """Work done under one label. Times in seconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    peak_exec_memory_bytes: int = 0
    input_bytes: int = 0
    python_nodes: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    python_rows_received: int = 0
    python_jvm_wait_s: float = 0.0
    streaming_batches: int = 0
    streaming_trigger_s: float = 0.0
    streaming_add_batch_s: float = 0.0
    streaming_planning_s: float = 0.0
    streaming_wal_commit_s: float = 0.0
    streaming_state_rows: int = 0
    streaming_state_memory_bytes: int = 0

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, max(a, b) if f.name == "peak_exec_memory_bytes" else a + b)


@dataclass
class _Stage:
    totals: Totals = field(default_factory=Totals)
    rows_by_acc: Counter = field(default_factory=Counter)
    python: bool = False


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _python_nodes(plan: dict, out: dict[int, int]) -> None:
    """Map each Python node's "data sent" accumulator to its output-rows
    accumulator. A node is a Python node when it reports data sent to
    Python workers, whatever its operator name."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        out[metrics[PY_SENT]] = metrics.get(ROWS, -1)
    for child in plan.get("children", []):
        _python_nodes(child, out)


def _add_task(stage: _Stage, ev: dict) -> None:
    t = stage.totals
    m = ev.get("Task Metrics") or {}
    t.tasks += 1
    t.task_run_s += m.get("Executor Run Time", 0) / 1e3
    t.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    t.gc_s += m.get("JVM GC Time", 0) / 1e3
    t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    t.peak_exec_memory_bytes = max(t.peak_exec_memory_bytes, m.get("Peak Execution Memory", 0))
    t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t.shuffle_fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_SENT:
            stage.python = True
            t.python_bytes_sent += _num(acc.get("Update"))
        elif name == PY_RECV:
            t.python_bytes_received += _num(acc.get("Update"))
        elif name == ROWS:
            stage.rows_by_acc[acc["ID"]] += _num(acc.get("Update"))


def attribute(
    lines: Iterable[str], locate: Callable[[str | None, float], object]
) -> dict[object, Totals]:
    """Fold an event log into ``{label: Totals}``.

    ``locate(job_group, epoch_seconds)`` names the label of a job (or a
    streaming progress report) from its job group and start time;
    ``None`` drops it."""
    job_label: dict[int, object] = {}
    stage_job: dict[int, int] = {}
    exec_label: dict[int, object] = {}
    stages: dict[int, _Stage] = {}
    py_plan: dict[int, dict[int, int]] = {}
    out: dict[object, Totals] = {}

    def totals(label) -> Totals:
        return out.setdefault(label, Totals())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = locate(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            job_label[ev["Job ID"]] = label
            if label is not None:
                totals(label).jobs += 1
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_label.setdefault(int(exec_id), label)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            stages.setdefault(ev["Stage ID"], _Stage())
            _add_task(stages[ev["Stage ID"]], ev)
        elif kind in (SQL_START, SQL_AQE):
            nodes: dict[int, int] = {}
            _python_nodes(ev.get("sparkPlanInfo") or {}, nodes)
            # an adaptive update re-sends the whole plan: keep the latest
            py_plan[ev["executionId"]] = nodes
        elif kind == PROGRESS:
            p = ev["progress"]
            label = locate(None, _epoch(p["timestamp"]))
            if label is None:
                continue
            d = p.get("durationMs") or {}
            t = totals(label)
            t.streaming_batches += 1
            t.streaming_trigger_s += d.get("triggerExecution", 0) / 1e3
            t.streaming_add_batch_s += d.get("addBatch", 0) / 1e3
            t.streaming_planning_s += d.get("queryPlanning", 0) / 1e3
            t.streaming_wal_commit_s += d.get("walCommit", 0) / 1e3
            # state is a level, not a flow: a query's last report wins
            ops = p.get("stateOperators") or []
            t.streaming_state_rows = sum(o.get("numRowsTotal", 0) for o in ops)
            t.streaming_state_memory_bytes = sum(o.get("memoryUsedBytes", 0) for o in ops)

    rows_accs = {r for nodes in py_plan.values() for r in nodes.values()}
    for sid, stage in stages.items():
        label = job_label.get(stage_job.get(sid))
        if label is None:
            continue
        s = stage.totals
        s.stages = 1
        s.python_rows_received = sum(v for a, v in stage.rows_by_acc.items() if a in rows_accs)
        if stage.python:
            s.python_jvm_wait_s = max(0.0, s.task_run_s - s.task_cpu_s)
        totals(label).add(s)
    for exec_id, nodes in py_plan.items():
        label = exec_label.get(exec_id)
        if label is not None:
            totals(label).python_nodes += len(nodes)
    return out
