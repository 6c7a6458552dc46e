"""Spans, job-group labels and probes of the traced run.

Spans are recorded around the benchmark's own calls into each layer and
kept in memory. Each build, catalog and execute span also sets a Spark
job group, so the event log can charge every job to its pass, query and
phase. Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import os
import sys
import time

from metrics import Span

PACKAGE = "benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark"
GROUP_PREFIX = "perfbench"


def label(pass_id, query, phase) -> str:
    return f"{GROUP_PREFIX}|{pass_id}|{query}|{phase}"


def parse_label(group: str | None):
    if not group or not group.startswith(GROUP_PREFIX + "|"):
        return None
    _, pass_id, query, phase = group.split("|", 3)
    return pass_id, query, phase


class Tracer:
    """Nested spans: run -> setup | pass -> query -> build (-> catalog)
    | execute. Phase spans carry a job-group label."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.root = Span("run", time.time())
        self.stack = [self.root]
        self.labels: list[str | None] = [None]
        self.phases: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), attrs=attrs)
        self.stack[-1].children.append(s)
        self.stack.append(s)
        tag = None
        if "phase" in attrs:
            tag = label(attrs["pass_id"], attrs["query"], attrs["phase"])
            self.phases.append(s)
            self.sc.setJobGroup(tag, tag)
        self.labels.append(tag or self.labels[-1])
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.labels.pop()
            if tag is not None and self.labels[-1] is not None:
                self.sc.setJobGroup(self.labels[-1], self.labels[-1])
            elif tag is not None:
                # jobs outside any phase must not inherit the last label
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def current(self) -> Span:
        return self.stack[-1]

    def locate(self, group: str | None, epoch: float):
        """Label of a job: its own group when the benchmark set it,
        else the innermost phase span open at ``epoch``."""
        parsed = parse_label(group)
        if parsed is not None:
            return parsed
        best = None
        for s in self.phases:
            if s.start <= epoch <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is None:
            return None
        return str(best.attrs["pass_id"]), best.attrs["query"], best.attrs["phase"]


def install_catalog_spans(tracer: Tracer) -> None:
    """Wrap ``load_table``, ``load_table_parallel`` and ``read_raw`` in
    every package module that imported them, so each outermost call is
    a ``catalog`` span (nested calls, such as ``load_table`` reading
    through ``read_raw``, count once)."""
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark import catalog

    depth = [0]

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            parent = tracer.current().attrs
            depth[0] += 1
            try:
                with tracer.span(
                    "catalog", pass_id=parent.get("pass_id"), query=parent.get("query"), phase="catalog"
                ):
                    return fn(*args, **kwargs)
            finally:
                depth[0] -= 1

        return inner

    originals = {n: getattr(catalog, n) for n in ("load_table", "load_table_parallel", "read_raw")}
    wrapped = {n: wrap(f) for n, f in originals.items()}
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith(PACKAGE):
            continue
        for n, f in originals.items():
            if getattr(mod, n, None) is f:
                setattr(mod, n, wrapped[n])


def sink_tables(spark) -> int:
    """Memory-sink tables (``sink_*``) still registered in the session."""
    return sum(1 for t in spark.catalog.listTables() if t.name.startswith("sink_"))


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            continue
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def memory_peaks(pid: int) -> dict[str, float]:
    """Peak RSS (VmHWM) of the JVM and of its largest Python worker."""
    workers, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        workers.append(p)
        todo += _children(p)
    return {
        "session.jvm_peak_rss_mb": _vm_hwm_mb(pid),
        "session.py_worker_peak_rss_mb": max((_vm_hwm_mb(p) for p in workers), default=0.0),
    }


def event_log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]
