"""Unit tests of the benchmark's own arithmetic and event-log parser.

No Spark session is started:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import layers  # noqa: E402
from metrics import Span, covered, layer_self_times, self_time, tail_percentile  # noqa: E402


# ---------------------------------------------------------------- tail rule


@pytest.mark.parametrize("n", [11, 12, 20, 40, 101])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)][::-1]
    value, pct = tail_percentile(samples)
    assert sum(1 for s in samples if s > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_forty_samples_is_p75():
    value, pct = tail_percentile([float(i) for i in range(1, 41)])
    assert (value, pct) == (30.0, 75.0)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_refuses_ten_or_fewer_samples(n):
    with pytest.raises(ValueError):
        tail_percentile([1.0] * n)


def test_tail_counts_ties_by_rank():
    value, _ = tail_percentile([1.0] * 5 + [2.0] * 20)
    assert value == 2.0


# ---------------------------------------------------------------- span arithmetic


def _span(name, start, end, *children, **attrs):
    return Span(name, start, end, attrs=attrs, children=list(children))


def test_self_time_subtracts_union_of_children():
    parent = _span("build", 0.0, 10.0, _span("a", 1.0, 3.0), _span("b", 2.0, 5.0), _span("c", 8.0, 9.0))
    assert self_time(parent) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span("build", 2.0, 6.0, _span("a", 0.0, 3.0), _span("b", 5.0, 9.0))
    assert self_time(parent) == pytest.approx(2.0)


def test_self_time_without_children_is_the_duration():
    assert self_time(_span("x", 1.5, 4.0)) == pytest.approx(2.5)


def test_covered_ignores_intervals_outside():
    assert covered([(0.0, 1.0), (9.0, 12.0)], 2.0, 8.0) == 0.0


def test_layer_self_times_of_one_pass():
    q1 = _span(
        "query", 0.0, 4.0,
        _span("build", 0.0, 1.0, _span("catalog", 0.1, 0.4)),
        _span("execute", 1.0, 3.5),
    )
    q2 = _span("query", 4.5, 6.0, _span("build", 4.5, 5.5), _span("execute", 5.5, 6.0))
    selfs = layer_self_times(_span("pass", 0.0, 7.0, q1, q2), streaming_s=0.2)
    assert tuple(selfs) == layers.LAYERS
    assert selfs["catalog"] == pytest.approx(0.3)
    assert selfs["operators"] == pytest.approx(0.7 + 1.0 - 0.2)
    assert selfs["streaming"] == pytest.approx(0.2)
    assert selfs["exec"] == pytest.approx(3.0)
    # 0.5 s inside q1 after execute, 0.5 s between queries, 1 s at the end
    assert selfs["driver"] == pytest.approx(2.0)
    assert sum(selfs.values()) == pytest.approx(7.0)


# ---------------------------------------------------------------- event log


def _task(stage, run_ms, cpu_ns, accs=(), **metrics):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5}
    m.update(metrics)
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u} for i, n, u in accs]},
        "Task Metrics": m,
    }


def _plan(name, metrics, *children):
    return {
        "nodeName": name,
        "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
        "children": list(children),
    }


SYNTHETIC_LOG = [
    # query "q" of pass 0: one build job, one execute job (SQL execution 7)
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "perfbench|0|q|build"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1001_000,
     "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "perfbench|0|q|execute", "spark.sql.execution.id": "7"}},
    {"Event": eventlog.SQL_START, "executionId": 7, "sparkPlanInfo": _plan(
        "WholeStageCodegen", [("number of output rows", 50)],
        _plan("MapInPandas", [
            (eventlog.PY_SENT, 60), (eventlog.PY_RECV, 61), (eventlog.ROWS, 62)])),
     },
    # adaptive re-plan of the same execution: still one Python node
    {"Event": eventlog.SQL_AQE, "executionId": 7, "sparkPlanInfo": _plan(
        "AdaptiveSparkPlan", [],
        _plan("MapInPandas", [
            (eventlog.PY_SENT, 60), (eventlog.PY_RECV, 61), (eventlog.ROWS, 62)])),
     },
    _task(0, 100, 50_000_000),
    _task(1, 400, 100_000_000, accs=[(60, eventlog.PY_SENT, 1000), (61, eventlog.PY_RECV, 200),
                                     (62, eventlog.ROWS, "30"), (50, eventlog.ROWS, 99)],
          **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
             "Peak Execution Memory": 4096, "Disk Bytes Spilled": 8}),
    _task(1, 400, 100_000_000, accs=[(60, eventlog.PY_SENT, 500), (62, eventlog.ROWS, 20)],
          **{"Peak Execution Memory": 1024}),
    _task(2, 300, 300_000_000,
          **{"Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 54,
                                      "Fetch Wait Time": 7},
             "Input Metrics": {"Bytes Read": 123}}),
    # a streaming micro-batch job: foreign group, placed by time
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1002_500,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "some-stream-run-id"}},
    _task(3, 10, 10_000_000),
    {"Event": eventlog.PROGRESS, "progress": {
        "timestamp": "1970-01-01T00:16:42.600Z",
        "durationMs": {"triggerExecution": 900, "addBatch": 700, "queryPlanning": 100, "walCommit": 50},
        "stateOperators": [{"numRowsTotal": 12, "memoryUsedBytes": 3000}]}},
    # a job nobody claims is dropped
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 5000_000,
     "Stage IDs": [4], "Properties": {}},
    _task(4, 999, 999),
]


def _locate(group, epoch):
    if group and group.startswith("perfbench|"):
        return tuple(group.split("|")[1:])
    if 1002.0 <= epoch <= 1003.0:  # the build span of query "s"
        return ("0", "s", "build")
    return None


def test_event_log_attribution():
    out = eventlog.attribute((json.dumps(e) for e in SYNTHETIC_LOG), _locate)
    assert set(out) == {("0", "q", "build"), ("0", "q", "execute"), ("0", "s", "build")}

    build = out[("0", "q", "build")]
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 1)
    assert build.task_run_s == pytest.approx(0.1) and build.python_nodes == 0

    ex = out[("0", "q", "execute")]
    assert (ex.jobs, ex.stages, ex.tasks) == (1, 2, 3)
    assert ex.task_run_s == pytest.approx(1.1)
    assert ex.task_cpu_s == pytest.approx(0.5)
    assert ex.gc_s == pytest.approx(0.015)
    assert ex.shuffle_write_bytes == 64 and ex.shuffle_read_bytes == 64
    assert ex.shuffle_fetch_wait_s == pytest.approx(0.007)
    assert ex.input_bytes == 123 and ex.spill_bytes == 8
    assert ex.peak_exec_memory_bytes == 4096
    assert ex.python_nodes == 1
    assert (ex.python_bytes_sent, ex.python_bytes_received, ex.python_rows_received) == (1500, 200, 50)
    # run minus CPU on the Python stage only (stage 1: 0.8 s - 0.2 s)
    assert ex.python_jvm_wait_s == pytest.approx(0.6)

    stream = out[("0", "s", "build")]
    assert stream.jobs == 1 and stream.tasks == 1
    assert stream.streaming_batches == 1
    assert stream.streaming_trigger_s == pytest.approx(0.9)
    assert stream.streaming_add_batch_s == pytest.approx(0.7)
    assert stream.streaming_planning_s == pytest.approx(0.1)
    assert stream.streaming_wal_commit_s == pytest.approx(0.05)
    assert (stream.streaming_state_rows, stream.streaming_state_memory_bytes) == (12, 3000)


def test_totals_add_sums_counts_and_keeps_peak():
    a = eventlog.Totals(jobs=1, peak_exec_memory_bytes=10, task_run_s=1.0)
    a.add(eventlog.Totals(jobs=2, peak_exec_memory_bytes=5, task_run_s=0.5))
    assert (a.jobs, a.peak_exec_memory_bytes, a.task_run_s) == (3, 10, 1.5)


# ---------------------------------------------------------------- metric names


def test_benchmark_json_lists_every_per_layer_metric_with_its_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    assert [m["name"] for m in declared] == list(layers.NAMES)
    for m in declared:
        assert (m["unit"], m["better"]) == (layers.unit(m["name"]), layers.better(m["name"])), m["name"]


def test_pass_metrics_report_exactly_the_declared_keys():
    q = _span("query", 0.0, 2.0, _span("build", 0.0, 1.0), _span("execute", 1.0, 2.0), query="read")
    totals = {("0", "read", "execute"): eventlog.Totals(jobs=1)}
    m = layers._pass_metrics(_span("pass", 0.0, 2.5, q, pass_id=0), totals, 4)  # noqa: SLF001
    # a pass without a sources item leaves that sources metric out
    assert set(m) | set(layers.SOURCE_ITEMS.values()) == set(layers.PASS_KEYS)
    assert m["sources.csv_read_s"] == 2.0 and m["exec.jobs"] == 1
