"""Per-layer metrics of a traced run: spans for wall time by layer, the
event log for the work Spark did under each span's job group.

Per-pass metrics are computed for every timed pass and reported as the
median over passes; set-up metrics are reported once.
"""

from __future__ import annotations

import eventlog
from metrics import layer_self_times, median_of, walk

# item latency of reference_ops -> sources metric
SOURCE_ITEMS = {"read": "sources.csv_read_s", "write_parquet": "sources.parquet_write_s"}

EXEC_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
    "spill_bytes", "peak_exec_memory_bytes", "input_bytes",
)
PYTHON_FIELDS = ("nodes", "bytes_sent", "bytes_received", "rows_received", "jvm_wait_s")
STREAMING_FIELDS = (
    "batches", "trigger_s", "add_batch_s", "planning_s", "wal_commit_s",
    "state_rows", "state_memory_bytes",
)
ONCE_KEYS = (
    "session.start_s", "session.ship_s", "session.jvm_peak_rss_mb",
    "session.jvm_live_heap_mb", "session.py_worker_peak_rss_mb",
    "sources.generate_s", "sources.csv_write_s", "sources.csv_write_bytes",
    "streaming.sink_tables", "trace.pass_s",
)
# layers of ``metrics.layer_self_times``
LAYERS = ("catalog", "operators", "streaming", "exec", "driver")
PASS_KEYS = (
    "catalog.calls", "catalog.busy_s", "catalog.jobs",
    "operators.build_s", "operators.build_self_s", "operators.build_jobs", "operators.build_share",
    "exec.s", "exec.utilization",
    *(f"exec.{f}" for f in EXEC_FIELDS),
    *(f"python.{f}" for f in PYTHON_FIELDS),
    *(f"streaming.{f}" for f in STREAMING_FIELDS),
    *(f"self.{layer}_s" for layer in LAYERS),
    *SOURCE_ITEMS.values(),
)
# every per-layer metric a traced run reports; BENCHMARK.json lists the same
NAMES = tuple(sorted(PASS_KEYS + ONCE_KEYS))


def unit(name: str) -> str:
    field = name.split(".", 1)[1]
    if field == "s" or field.endswith("_s"):
        return "s"
    if "bytes" in field:
        return "bytes"
    if field.endswith("_mb"):
        return "MB"
    if field in ("build_share", "utilization"):
        return "ratio"
    return "count"


def better(name: str) -> str:
    return "higher" if name == "exec.utilization" else "lower"


def _pass_metrics(pass_span, totals: dict, cores: int) -> dict[str, float]:
    pid = str(pass_span.attrs["pass_id"])
    phase = {p: eventlog.Totals() for p in ("catalog", "build", "execute")}
    for (p, _query, ph), t in totals.items():
        if p == pid and ph in phase:
            phase[ph].add(t)
    every = eventlog.Totals()
    for t in phase.values():
        every.add(t)
    spans = list(walk(pass_span))
    catalog = [s for s in spans if s.name == "catalog"]
    build_s = sum(s.duration for s in spans if s.name == "build")
    exec_s = sum(s.duration for s in spans if s.name == "execute")
    ex = phase["execute"]
    m = {
        "catalog.calls": len(catalog),
        "catalog.busy_s": sum(s.duration for s in catalog),
        "catalog.jobs": phase["catalog"].jobs,
        "operators.build_s": build_s,
        "operators.build_jobs": phase["build"].jobs,
        "operators.build_share": build_s / (build_s + exec_s) if build_s + exec_s else 0.0,
        "exec.s": exec_s,
        "exec.utilization": ex.task_run_s / (exec_s * cores) if exec_s else 0.0,
    }
    m["operators.build_self_s"] = build_s - m["catalog.busy_s"]
    m.update({f"exec.{f}": getattr(ex, f) for f in EXEC_FIELDS})
    m.update({f"python.{f}": getattr(every, f"python_{f}") for f in PYTHON_FIELDS})
    m.update({f"streaming.{f}": getattr(every, f"streaming_{f}") for f in STREAMING_FIELDS})
    for layer, s in layer_self_times(pass_span, every.streaming_trigger_s).items():
        m[f"self.{layer}_s"] = s
    for q in pass_span.children:
        if q.attrs.get("query") in SOURCE_ITEMS:
            m[SOURCE_ITEMS[q.attrs["query"]]] = q.duration
    return m


def per_layer(tracer, log_path: str, setup: dict, cores: int) -> dict[str, tuple[float, str]]:
    with open(log_path) as f:
        totals = eventlog.attribute(f, tracer.locate)
    passes = [s for s in tracer.root.children if s.name == "pass"]
    rows = [_pass_metrics(p, totals, cores) for p in passes]
    out = {k: float(median_of(rows, k)) for k in PASS_KEYS}
    out.update({k: float(setup.get(k, 0.0)) for k in ONCE_KEYS})
    return {k: (out[k], unit(k)) for k in NAMES}
