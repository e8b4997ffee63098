"""Benchmark: headline queries + full pipeline; prints ONE JSON line.

Contract (driver): run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]; output
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Two workloads:
1. every ``__spark_entry__.queries()`` entry on the sf-dir tables, fully
   materialized via the noop sink (no driver collect);
2. the flagship transcript pipeline (normalize → 1m/1h/1d tiers → gap-fill →
   Gorilla chunks → retention+lineage) on a deterministic synthetic transcript
   table sized ∝ sf (sf0.1 → 2M turns), pre-materialized to parquet so the
   measurement is engine time, not generator time. Reports rollup throughput
   in turns/sec (BASELINE.md metric).

Certified-window protocol (VERDICT r4 "Next round" #1): this sandbox VM is
burst-credit throttled and oscillates ±40% minute-to-minute
(host-regime study, BASELINE.md); single-pass numbers whipsaw with the host regime, not
the code (r4 shipped two rows at ~3× their same-day local twins on unchanged
code). The battery therefore runs BEST-OF-N passes (default 3,
``SPARK_GRAFT_BENCH_REPS``), each pass gated by ``hostgate``'s absolute
fixed-work capacity probe: a pass starts only once the box delivers
≥ ``SPARK_GRAFT_BENCH_GATE_FRAC`` (default 0.93) of the session-max capacity
— the burst-credit recovery gate — so the recovery sleep between passes is
automatic, not a fixed timer. Per-query wall is the MIN across passes (the
reading least polluted by host noise); the per-pass walls and capacity
readings ship in the JSON's ``bench_protocol`` block so the window is
auditable. ``SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_GATE=0`` restores the
old single-pass behavior for quick local iteration.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import hostgate


def _calibrate_capacity(n: int, samples: int = 3, gap_s: float = 15.0) -> float:
    """Session-max fixed-work capacity reference. A single sample would make
    the first gate self-certifying (ratio 1.0 by construction); spreading a
    few samples across ~30s catches at least one near-fresh reading unless
    the whole window is drained — and then the per-pass gate keeps waiting,
    which is the correct behavior."""
    best = 0.0
    for i in range(samples):
        best = max(best, hostgate.capacity_quick(n))
        if i + 1 < samples:
            time.sleep(gap_s)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    gating = os.environ.get("SPARK_GRAFT_BENCH_GATE", "1") != "0"
    gate_frac = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_FRAC", "0.93"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from mpnsm_spark.generator import generate_transcripts
    from mpnsm_spark.plans.pipeline import PipelineConfig, run_pipeline
    from mpnsm_spark.session import get_spark
    from mpnsm_spark.sources.tableio import TableIO

    import __spark_entry__ as em

    # Shuffle/spill + bench warehouse on tmpfs when available: this box has a
    # single slow virtio disk and bursty hypervisor steal; a real cluster has
    # parallel S3/HDFS. Keeps the measurement about the engine, not the disk.
    shm_ok = os.path.isdir("/dev/shm")
    extra = {}
    if shm_ok:
        local_dir = "/dev/shm/spark_local"
        os.makedirs(local_dir, exist_ok=True)
        extra["spark.local.dir"] = local_dir
    spark = get_spark(
        "bench", cores=cpus, shuffle_partitions=max(cpus, 8), extra_conf=extra
    )

    # Untimed warmup: the session's FIRST jobs pay one-time costs (parquet
    # datasource + output committer init, JIT, codegen warm) that previously
    # landed entirely on whichever query ran first (~5-6s attributed to
    # tier_1m_rollup; the query itself re-measures at ~1s).
    spark.range(100_000).selectExpr("sum(id) as s").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).selectExpr(
        "count(*) as c"
    ).write.format("noop").mode("overwrite").save()

    # Pipeline input: generated ONCE, reused by every pass (generator time is
    # not engine time).
    turns = max(20_000, int(20_000_000 * sf))
    convs = max(50, turns // 100)
    tmp = tempfile.mkdtemp(prefix="bench_", dir="/dev/shm" if shm_ok else None)
    ref: dict = {}
    if gating:
        ref["max"] = _calibrate_capacity(cpus)
    try:
        bronze = os.path.join(tmp, "bronze")
        generate_transcripts(
            spark, n_convs=convs, n_turns=turns, seed=42, shuffle_rows=False,
            num_partitions=max(cpus, 8),
        ).write.mode("overwrite").parquet(bronze)
        raw = spark.read.parquet(bronze)
        cfg = PipelineConfig(
            num_buckets=max(cpus, 8), points_per_chunk=4096,
            gapfill_tiers=("1h", "1d"),
        )

        passes: list[dict] = []
        per_query: dict[str, float] = {}
        pipeline_best = float("inf")
        input_turns = 0
        for rep in range(max(reps, 1)):
            if gating:
                pre_ratio, pre_ok = hostgate.gate(
                    cpus, ref, gate_frac, max_wait_s=420.0, settle_s=30.0
                )
            else:
                pre_ratio, pre_ok = 1.0, True
            qtimes: dict[str, float] = {}
            for name, fn in em.queries().items():
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                qtimes[name] = round(time.time() - t0, 3)
            wh = os.path.join(tmp, f"wh{rep}")
            t0 = time.time()
            summary = run_pipeline(spark, raw, TableIO(wh), cfg)
            pipeline_sec = time.time() - t0
            qtimes["pipeline_full"] = round(pipeline_sec, 3)
            input_turns = summary["input_turns"]
            pipeline_best = min(pipeline_best, pipeline_sec)
            shutil.rmtree(wh, ignore_errors=True)
            for name, sec in qtimes.items():
                per_query[name] = min(per_query.get(name, float("inf")), sec)
            passes.append(
                {
                    "total": round(sum(qtimes.values()), 3),
                    "pre_capacity_ratio": round(pre_ratio, 3),
                    "gate_certified": pre_ok,
                }
            )
            print(f"bench pass {rep + 1}/{reps}: total={passes[-1]['total']}s "
                  f"gate_ratio={pre_ratio:.3f}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    queries = {k: round(v, 3) for k, v in per_query.items()}
    total = round(sum(queries.values()), 3)
    turns_per_sec = input_turns / pipeline_best if pipeline_best else 0.0
    print(
        json.dumps(
            {
                "metric": "end_to_end_seconds",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "cpus": cpus,
                "pipeline_turns": input_turns,
                "rollup_turns_per_sec": round(turns_per_sec, 1),
                "bench_protocol": {
                    "reps": max(reps, 1),
                    "aggregate": "per_query_min",
                    "gate": "absolute fixed-work capacity >= "
                            f"{gate_frac} x session max" if gating else "off",
                    "passes": passes,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
