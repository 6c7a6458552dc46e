#!/usr/bin/env python3
"""Traced report of every workload: per-layer metrics, tracing overhead
and the layer with the most self time on the blocking path.

    python3 perfbench/report.py

Run from the repository root. For each workload it runs ``PAIRS``
untraced/traced pairs with seed ``SEED`` and the ``run_seconds`` of
BENCHMARK.json, alternating which side runs first. Tracing overhead is
the median traced ``pass_s`` minus the median untraced one; the
per-layer tables come from the traced run with the median ``pass_s``.
It writes ``layers.json`` (every run's metrics, with provenance) and
``LAYERS.md`` (the tables) to ``perfbench/results``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import LAYERS, ONCE_KEYS  # noqa: E402

SEED = 1
PAIRS = 3
OUT = os.path.join(HERE, "results")
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _BENCHMARK = json.load(_f)
RUN_SECONDS = _BENCHMARK["run_seconds"]
WORKLOADS = [w["name"] for w in _BENCHMARK["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(RUN_SECONDS), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    detail, result = (json.loads(line) for line in proc.stdout.strip().split("\n")[-2:])
    return detail, result


def main() -> int:
    report = {}
    for w in WORKLOADS:
        runs = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in (0, 1) if i % 2 == 0 else (1, 0):
                runs[trace].append(_run(w, trace))
        plain = [d["metrics"]["pass_s"] for d, _ in runs[0]]
        traced = [d["metrics"]["trace.pass_s"] for d, _ in runs[1]]
        detail, result = sorted(runs[1], key=lambda r: r[0]["metrics"]["trace.pass_s"])[len(traced) // 2]
        selfs = {k: detail["metrics"][f"self.{k}_s"] for k in LAYERS}
        report[w] = {
            "untraced": sorted(runs[0], key=lambda r: r[0]["metrics"]["pass_s"])[len(plain) // 2][1],
            "traced": result,
            "untraced_pass_s": plain,
            "traced_pass_s": traced,
            "host_probe_s": [d["provenance"]["host_probe_s"] for d, _ in runs[0] + runs[1]],
            "provenance": detail["provenance"],
            "tracing_overhead_s": statistics.median(traced) - statistics.median(plain),
            "blocking_layer": max(selfs, key=selfs.get),
            "self_s": selfs,
        }
        print(f"{w}: done", file=sys.stderr)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "layers.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    with open(os.path.join(OUT, "LAYERS.md"), "w") as f:
        f.write(_markdown(report))
    return 0


def _fmt(v: float) -> str:
    if v == 0:
        return "0"
    if abs(v) >= 1e5:
        return f"{v:.3g}"
    return f"{v:.3f}".rstrip("0").rstrip(".")


def _spread(values: list[float]) -> str:
    return f"{_fmt(statistics.median(values))} ({_fmt(min(values))}–{_fmt(max(values))})"


def _markdown(report: dict) -> str:
    prov = next(iter(report.values()))["provenance"]
    lines = [
        "# Traced run of every workload",
        "",
        f"`python3 perfbench/report.py` (seed {SEED}, `--seconds {RUN_SECONDS}`, {PAIRS} pairs); "
        f"{prov['master']}, nproc {prov['nproc']}, MemTotal {prov['mem_total_kb'] // 1024} MiB, "
        f"Spark {prov['spark']}, Java {prov['java']}, Python {prov['python']}, "
        f"fixtures `{prov['sf_dir']}`, commit `{prov['commit']}`, "
        f"source digest `{prov['source_digest']}`. Host probe (`run.py:_host_probe_s`, median over "
        f"all runs): {_fmt(statistics.median(p for r in report.values() for p in r['host_probe_s']))} s.",
        "",
        "Per-pass figures are medians over the timed passes of one run; set-up "
        "figures are measured once. The tables show, per workload, the run with "
        "the median `pass_s` of its side. Tracing overhead is the median traced "
        "`pass_s` minus the median untraced one, over alternating pairs. The "
        "pass_s columns give each side's median and, in brackets, its range. An "
        "overhead smaller than those ranges is unresolved, not a measured cost.",
        "",
        "## Where each pass spends its time",
        "",
        "Self time per layer (s) along the blocking path. With one closed-loop "
        "client every step blocks the next, so the whole pass is the blocking path.",
        "",
        "| workload | untraced pass_s | traced pass_s | tracing overhead | "
        + " | ".join(LAYERS) + " | blocking layer |",
        "|---|---|---|---|" + "---|" * len(LAYERS) + "---|",
    ]
    for w, r in report.items():
        plain = statistics.median(r["untraced_pass_s"])
        lines.append(
            f"| {w} | {_spread(r['untraced_pass_s'])} | {_spread(r['traced_pass_s'])} | "
            f"{_fmt(r['tracing_overhead_s'])} s "
            f"({100 * r['tracing_overhead_s'] / plain:+.0f} %) | "
            + " | ".join(_fmt(r["self_s"][k]) for k in LAYERS)
            + f" | **{r['blocking_layer']}** |"
        )
    lines += ["", "## End-to-end metrics (untraced run)", "",
              "| metric | unit | " + " | ".join(report) + " |",
              "|---|---|" + "---|" * len(report)]
    first = next(iter(report.values()))["untraced"]["metrics"]
    for k, v in first.items():
        lines.append(f"| {k} | {v['unit']} | " + " | ".join(
            _fmt(r["untraced"]["metrics"][k]["value"]) for r in report.values()) + " |")
    lines += ["", "## Per-layer metrics (traced run)", "",
              "| metric | unit | " + " | ".join(report) + " |",
              "|---|---|" + "---|" * len(report)]
    first = next(iter(report.values()))["traced"]["metrics"]
    for k, v in first.items():
        scope = " (once per run)" if k in ONCE_KEYS else ""
        lines.append(f"| {k}{scope} | {v['unit']} | " + " | ".join(
            _fmt(r["traced"]["metrics"][k]["value"]) for r in report.values()) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sys.exit(main())
