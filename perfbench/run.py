"""Benchmark for the rollup engine.

    python3 perfbench/run.py --workload rollup_forecast --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session (``local[n]``
with n = usable cores), one workload:

1. set-up: start the session, write the seeded inputs under
   ``.perfbench_work/``, build what the workload reads, run untimed warm-up
   iterations and check their outputs;
2. a closed loop of measured iterations for ``--seconds`` seconds (at least
   one), each checked after its timed part;
3. with ``--trace 1`` the loop alternates traced and plain iterations,
   starting with a traced one and ending with a plain one. Traced iterations record spans, time
   ``TableIO`` calls and are joined with the Spark event log and a ``/proc``
   CPU sampler into per-layer metrics.

Lines starting with ``REPORT`` give the workload's own metrics with units;
the last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
NEEDED = ("mpnsm_spark/__init__.py", "__spark_entry__.py")
DRIVER_MEMORY = "3g"
# A traced run needs a traced and a plain iteration for the overhead.
MIN_ITERATIONS = {0: 1, 1: 2}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["rollup_forecast", "operator_battery"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes (not for measurement)")
    return p.parse_args(argv)


def start_spark(work: str, traced: bool):
    from mpnsm_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every child."""
    from perfbench.probes import descendants, proc_table

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 20
    while descendants(proc_table()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(proc_table()):
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in NEEDED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Everything the engine, Spark and the Python workers write stays in
    # the work directory; the workers import the engine from the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from perfbench import probes, workloads

    traced_run = bool(args.trace)
    steal0 = probes.cpu_steal()
    sampler = probes.ProcSampler(0.1 if traced_run else 0.25).start()
    spark = start_spark(work, traced_run)
    tracer = probes.Tracer()
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.tiny, tracer)
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_START

        sampler.measure_rss(True)
        walls: list[tuple[bool, float | None]] = []  # (traced, wall) in run order
        t0, i = time.perf_counter(), 0
        while (i < MIN_ITERATIONS[args.trace] or time.perf_counter() - t0 < args.seconds
               or walls[-1][0]):
            trace_this = traced_run and i % 2 == 0
            wall = wl.iteration(i, trace_this)
            print(f"perfbench: iteration {i} traced={trace_this} wall={wall}", file=sys.stderr)
            walls.append((trace_this, wall))
            i += 1
        sampler.measure_rss(False)
        wl.attempt("final checks", wl.finish)
    finally:
        stop_spark(spark)
        sampler.stop()
    steal1 = probes.cpu_steal()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    plain = [w for t, w in walls if not t and w is not None]
    # each traced iteration against the plain one after it: a JVM still
    # warming up slows the traced one, so this errs towards more overhead
    overheads = [w - walls[k + 1][1] for k, (t, w) in enumerate(walls)
                 if t and None not in (w, walls[k + 1][1])]
    if not plain or (traced_run and not overheads):
        print("perfbench: no measured iteration succeeded", file=sys.stderr)
        return 1
    iteration_s = statistics.median(plain)
    wl.summarize()
    report = dict(wl.report)
    report.update({
        "setup_s": (setup_s, "s"),
        "iteration_s": (iteration_s, "s"),
        "iterations": (len(walls), "count"),
        "failed_op_ratio": (wl.failed / max(wl.attempted, 1), "failed/attempted"),
        "peak_rss_mb": (sampler.peak_rss / 1e6, "MB"),
        "cpu_steal_pct": (steal_pct, "%"),
    })
    for name, (value, unit) in report.items():
        print(f"REPORT {args.workload} {name} {value:.6g} {unit}")

    if traced_run:
        layers = {name: 0.0 for name in workloads.layer_metric_names()}
        layers.update(wl.layers(probes.parse_event_log(os.path.join(work, "eventlog")),
                                sampler))
        layers["trace.overhead_s"] = statistics.median(overheads)
        layers["host.steal_pct"] = steal_pct
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        print(f"REPORT {args.workload} trace_self_time_gap_s "
              f"{tracer.self_time_gap():.6g} s")
        metrics = {k: {"value": v, "unit": workloads.unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "iteration_s": {"value": iteration_s, "unit": "s"},
        }
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
