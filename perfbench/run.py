#!/usr/bin/env python3
"""Layered benchmark: one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 26 --trace 0

Run from the repository root. Set-up starts the session, prepares the
workload's inputs, runs one cold warm-up pass that collects every output
and ``WARM_PASSES`` more that do not. Timed passes then run the workload's queries back to back, each a build
call followed by a forced (``noop``) execution, in an order shuffled by
the seed. There are as many passes as fill ``--seconds`` at the
workload's nominal pass time, so every run has the same sample count.
The warm-up outputs are checked against DuckDB afterwards.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` the per-layer metrics of a run with job groups, the
Spark event log and catalog spans on. The line before it is a detail
record: provenance, per-query samples and correctness. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

from metrics import TAIL_MIN_BEYOND, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench_work")
# Untimed noop passes after the cold, collecting one. C2 compilation keeps
# speeding passes up for five to eight passes after session start; the
# timed passes start near the end of that curve.
WARM_PASSES = 4
OUT = os.path.join(os.getcwd(), ".perfbench_out")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _source_digest() -> str:
    h = hashlib.sha256()
    for base in ("benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for fname in sorted(files):
                if fname.endswith(".py"):
                    with open(os.path.join(dirpath, fname), "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _host_probe_s() -> float:
    """Median time of a fixed single-threaded Python loop: a reading of
    the host's speed, to tell a slow host from a slow program."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _prepare_dirs() -> dict[str, str]:
    """Everything the run writes lives under the checkout's work dir,
    emptied at start: a layout written by an earlier run must not make
    this run's set-up cheaper."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "local", "warehouse", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs["local"]
    # the JVM that spark-submit runs to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return dirs


def _spark_conf(dirs: dict[str, str], trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """Samples, pass times and failures of one run."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.executions: Counter[str] = Counter()
        self.failed = 0
        self.errors: dict[str, list[str]] = {}
        self.sink_counts: list[int] = []
        self.cold_s: dict[str, float] = {}
        self.timed = False

    def one_query(self, item, pass_id, collect: bool, tracer):
        """Build and execute one item. Its latency is recorded whether it
        succeeds or raises, so failures cannot thin out the samples."""
        from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness.timing import time_action

        box: list = [None, None, None]
        span = tracer.span if tracer else _no_span
        self.executions[item.name] += 1

        def query():
            try:
                with span("query", pass_id=pass_id, query=item.name):
                    with span("build", pass_id=pass_id, query=item.name, phase="build"):
                        box[0] = item.build()
                    with span("execute", pass_id=pass_id, query=item.name, phase="execute"):
                        box[1] = item.execute(box[0], collect)
            except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
                box[2] = exc
                traceback.print_exc(file=sys.stderr)

        elapsed = time_action(query)
        if collect:
            self.cold_s[item.name] = elapsed
        elif self.timed:
            self.samples.setdefault(item.name, []).append(elapsed)
        if box[2] is not None:
            self.failed += 1
            self.errors.setdefault(item.name, []).append(f"{type(box[2]).__name__}: {box[2]}")
            return False, None
        return True, box[1]

    def one_pass(self, wl, pass_id, collect: bool, tracer) -> dict[str, object]:
        order = list(wl.items)
        self.rng.shuffle(order)
        outputs = {}
        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        with span("pass", pass_id=pass_id):
            for item in order:
                ok, out = self.one_query(item, pass_id, collect, tracer)
                if ok:
                    outputs[item.name] = out
        if self.timed:
            self.pass_s.append(time.perf_counter() - t0)
        return outputs


def _no_span(*_args, **_attrs):
    return contextlib.nullcontext()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_setup0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    dirs = _prepare_dirs()
    try:
        from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.catalog import DEFAULT_SF_DIR

        if not os.path.isdir(DEFAULT_SF_DIR):
            print(f"fixture directory {DEFAULT_SF_DIR} not found", file=sys.stderr)
            return 2
        return _run(args, dirs, DEFAULT_SF_DIR, t_setup0)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args, dirs, sf_dir: str, t_setup0: float) -> int:
    import workloads
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.session import get_spark
    from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.shipping import ensure_package_on_workers

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    cores = _cores()
    trace = bool(args.trace)
    t0 = time.perf_counter()
    phases = {"import_s": t0 - t_setup0}
    spark = get_spark("perfbench", cpus=cores, extra_conf=_spark_conf(dirs, trace))
    layer = {"session.start_s": time.perf_counter() - t0}
    try:
        tracer = None
        if trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracing.install_catalog_spans(tracer)
            pid = tracing.jvm_pid(spark)
        run = Run(args.seed)
        span = tracer.span if tracer else _no_span
        with span("setup"):
            t0 = time.perf_counter()
            ensure_package_on_workers(spark)
            layer["session.ship_s"] = time.perf_counter() - t0
            wl = workloads.make(args.workload, spark, sf_dir, args.seed, dirs["data"])
            with span("prepare", pass_id="setup", query="prepare", phase="build"):
                layer.update(wl.setup())
            t0 = time.perf_counter()
            outputs = run.one_pass(wl, "warm", True, tracer)
            phases["warm_pass_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for i in range(WARM_PASSES):
                run.one_pass(wl, f"warm{i + 1}", False, tracer)
            phases["jit_warm_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup0
        run.timed = True

        passes = max(
            3,
            math.ceil((TAIL_MIN_BEYOND + 1) / len(wl.items)),
            round(args.seconds / workloads.NOMINAL_PASS_S[args.workload]),
        )
        for i in range(passes):
            run.one_pass(wl, i, False, tracer)
            if trace:
                run.sink_counts.append(tracing.sink_tables(spark))

        host_probe_s = _host_probe_s()
        t0 = time.perf_counter()
        problems = wl.check(outputs)
        phases["check_s"] = time.perf_counter() - t0
        for name in [i.name for i in wl.items]:
            if name in run.errors:
                problems.setdefault(name, []).extend(run.errors[name])
            elif name not in outputs:
                problems.setdefault(name, []).append("no output")
        wrong = {n for n, p in problems.items() if p and n not in run.errors}
        # a wrong answer makes every execution of that query a failure
        failed = run.failed + sum(run.executions[n] for n in wrong)
        attempted = sum(run.executions.values())

        all_samples = [s for v in run.samples.values() for s in v]
        tail, pct = tail_percentile(all_samples)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "provenance": {
                "nproc": cores,
                "mem_total_kb": _mem_total_kb(),
                "master": spark.sparkContext.master,
                "spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
                "python": platform.python_version(),
                "sf_dir": sf_dir,
                "commit": _commit(),
                "source_digest": _source_digest(),
                "host_probe_s": host_probe_s,
            },
            "setup_phases": dict(phases, session_s=layer["session.start_s"]),
            "passes": len(run.pass_s),
            "pass_s": run.pass_s,
            "tail_percentile": pct,
            "samples": len(all_samples),
            "queries": {
                i.name: {
                    "median_s": statistics.median(run.samples[i.name]) if run.samples.get(i.name) else None,
                    "cold_s": run.cold_s.get(i.name),
                    "samples": run.samples.get(i.name, []),
                    "correct": not problems.get(i.name),
                    "problems": problems.get(i.name, []),
                }
                for i in wl.items
            },
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(run.pass_s), "s"),
            "query_p50_s": (statistics.median(all_samples), "s"),
            "query_tail_s": (tail, "s"),
            "correct_pct": (100.0 * (attempted - failed) / attempted, "%"),
        }
        if trace:
            from benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark.harness import memory

            layer.update(tracing.memory_peaks(pid))
            layer["session.jvm_live_heap_mb"] = memory.jvm_heap_after_gc_mb(spark)
            layer["streaming.sink_tables"] = float(max(run.sink_counts))
            layer["trace.pass_s"] = statistics.median(run.pass_s)
    finally:
        _stop(spark)
    if trace:
        import layers

        metrics = layers.per_layer(tracer, tracing.event_log_file(dirs["eventlog"]), layer, cores)
    detail["metrics"] = {k: v[0] for k, v in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
