"""Smoke check of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py [workload ...]

For each workload: one untraced run must print every end-to-end metric of
BENCHMARK.json with its unit, and a ``REPORT`` line with the right unit for
each of the workload's own metrics in ``REPORT_UNITS``; two traced runs with
the same seed must print every per-layer metric of BENCHMARK.json with its
unit, and the exact counts (job counts, Gorilla bytes per point and chunk
count, kernel series, forecast rows) must repeat. Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

EXACT_REPORT = ("input_turns", "forecast_rows", "forecast_series", "battery_rows")
COMMON_UNITS = {"setup_s": "s", "iteration_s": "s", "failed_op_ratio": "failed/attempted",
                "peak_rss_mb": "MB", "cpu_steal_pct": "%"}
REPORT_UNITS = {
    "rollup_forecast": {**COMMON_UNITS, "pipeline_turns_per_s": "turns/s", "rerun_s": "s",
                        "stored_bytes_per_turn": "bytes/turn",
                        "forecast_series_per_s": "series/s"},
    "operator_battery": {**COMMON_UNITS, "battery_s": "s"},
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    result = json.loads(lines[-1])
    report = {}
    for line in lines:
        if line.startswith("REPORT "):
            _, _, name, value, unit = line.split(" ", 4)
            report[name] = (float(value), unit)
    if not result["correct"] or result["failed"]:
        sys.exit(f"{workload} trace={trace}: failed={result['failed']}\n{out.stderr[-3000:]}")
    return result["metrics"], report


def expect_units(where: str, metrics: dict, wanted: dict[str, str]) -> None:
    if set(metrics) != set(wanted):
        sys.exit(f"{where}: metrics {sorted(set(metrics) ^ set(wanted))} missing or extra")
    for name, unit in wanted.items():
        if metrics[name]["unit"] != unit:
            sys.exit(f"{where}: {name} unit {metrics[name]['unit']} != {unit}")


def exact(metrics: dict, report: dict) -> dict:
    keys = [k for k in metrics if k.endswith("jobs") or k in (
        "gorilla.bytes_per_point", "gorilla.chunks", "kernel.series")]
    return {**{k: metrics[k]["value"] for k in keys},
            **{k: report[k][0] for k in EXACT_REPORT if k in report}}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for workload in sys.argv[1:] or list(WORKLOADS):
        metrics, report = run(workload, 0)
        expect_units(f"{workload} trace=0", metrics, e2e)
        for name, unit in REPORT_UNITS[workload].items():
            if report.get(name, (None, None))[1] != unit:
                sys.exit(f"{workload}: REPORT {name} is {report.get(name)}, want unit {unit}")
        runs = [run(workload, 1) for _ in range(2)]
        for metrics, _ in runs:
            expect_units(f"{workload} trace=1", metrics, per_layer)
        a, b = (exact(*r) for r in runs)
        diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
        if diff:
            sys.exit(f"{workload}: exact counts differ between runs: {diff}")
        print(f"smoke ok: {workload} ({len(per_layer)} per-layer metrics, {len(a)} exact counts)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
