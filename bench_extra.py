"""Per-query isolation harness for optimization rounds (guide §1.4).

NOT part of the frozen driver contract (bench.py is). Runs selected
``__spark_entry__.queries()`` entries through the noop sink, reports
min/median wall seconds over N reps, and optionally dumps
``explain('formatted')`` to plans/<tag>/<query>_<suffix>.txt.

Usage:
    python bench_extra.py [query ...]            # default: all queries
    BENCH_EXTRA_REPS=3 BENCH_EXTRA_PLANS=plans/r06 BENCH_EXTRA_SUFFIX=before \
        python bench_extra.py minhash_near_dups pipeline_full

Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     core count (default 32)
    BENCH_EXTRA_REPS     reps per query (default 3)
    BENCH_EXTRA_PLANS    if set, write explain output under this dir
    BENCH_EXTRA_SUFFIX   plan file suffix (default "plan")
    BENCH_EXTRA_GATE     "1": block before each rep until the host's
                         fixed-work capacity recovers to >=0.93x the session
                         max (bench.py's certified-window protocol) — this
                         burst-credit VM swings 2-3x minute to minute and
                         ungated numbers are not comparable across runs
"""

from __future__ import annotations

import json
import os
import sys
import time

import hostgate


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    plans_dir = os.environ.get("BENCH_EXTRA_PLANS", "")
    suffix = os.environ.get("BENCH_EXTRA_SUFFIX", "plan")
    gating = os.environ.get("BENCH_EXTRA_GATE", "0") == "1"
    gate_ref: dict = {}

    from mpnsm_spark.session import get_spark

    import __spark_entry__ as em

    shm_ok = os.path.isdir("/dev/shm")
    extra = {}
    if shm_ok:
        local_dir = "/dev/shm/spark_local"
        os.makedirs(local_dir, exist_ok=True)
        extra["spark.local.dir"] = local_dir
    spark = get_spark(
        "bench_extra", cores=cpus, shuffle_partitions=max(cpus, 8),
        extra_conf=extra,
    )
    # Same untimed warmup as bench.py so first-query numbers are comparable.
    spark.range(100_000).selectExpr("sum(id) as s").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).selectExpr(
        "count(*) as c"
    ).write.format("noop").mode("overwrite").save()

    registry = em.queries()
    names = sys.argv[1:] or list(registry)
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        for name in names:
            df = registry[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
    # bench.py's protocol shape: gate once per PASS, sweep every query in the
    # pass, report the per-query min across passes.
    out: dict[str, dict] = {name: {"samples": []} for name in names}
    for rep in range(reps):
        if gating:
            hostgate.gate(cpus, gate_ref, 0.93, max_wait_s=420.0, settle_s=20.0)
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name]["samples"].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"pass {rep + 1}/{reps} done", file=sys.stderr, flush=True)
    for name in names:
        out[name]["min"] = min(out[name]["samples"])
        print(f"{name}: min={out[name]['min']} samples={out[name]['samples']}",
              file=sys.stderr, flush=True)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
