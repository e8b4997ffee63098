"""spark-submit entrypoint for the tier-materialization pipeline.

Cluster usage (the deployment path the engine is designed for):

    zip -r mpnsm_spark.zip mpnsm_spark
    spark-submit \
        --py-files mpnsm_spark.zip \
        --conf spark.sql.shuffle.partitions=<executors*cores*2> \
        jobs/run_pipeline_job.py \
        --input s3://bucket/bronze_transcripts \
        --warehouse s3://bucket/warehouse \
        --num-buckets 4096 --retention-cutoff "2025-01-01 00:00:00"

Local smoke:

    python jobs/run_pipeline_job.py --synthetic-turns 100000 \
        --warehouse /tmp/wh --cores 8

The script only wires arguments to :func:`mpnsm_spark.plans.pipeline.
run_pipeline`; all engine logic lives in the package so ``--py-files``
shipping is sufficient.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="bronze transcript table path (parquet)")
    ap.add_argument("--synthetic-turns", type=int, help="generate input instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=None)
    ap.add_argument("--points-per-chunk", type=int, default=4096)
    ap.add_argument("--retention-cutoff", default=None)
    ap.add_argument("--gapfill-tiers", default="1h,1d")
    ap.add_argument("--cores", type=int, default=None, help="local mode only")
    ap.add_argument("--iceberg", action="store_true")
    ap.add_argument("--catalog-prefix", default="")
    args = ap.parse_args()

    from mpnsm_spark.generator import generate_transcripts
    from mpnsm_spark.plans.pipeline import PipelineConfig, run_pipeline
    from mpnsm_spark.session import get_spark
    from mpnsm_spark.sources.tableio import TableIO

    spark = get_spark("transcript_rollup_pipeline", cores=args.cores)
    if args.synthetic_turns:
        raw = generate_transcripts(
            spark,
            n_convs=max(50, args.synthetic_turns // 100),
            n_turns=args.synthetic_turns,
            seed=42,
            shuffle_rows=False,
        )
    elif args.input:
        raw = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input / --synthetic-turns is required")

    io = TableIO(args.warehouse, iceberg=args.iceberg, catalog_prefix=args.catalog_prefix)
    cfg = PipelineConfig(
        num_buckets=args.num_buckets,
        wave_size=args.wave_size,
        points_per_chunk=args.points_per_chunk,
        retention_cutoff=args.retention_cutoff,
        gapfill_tiers=tuple(t for t in args.gapfill_tiers.split(",") if t),
    )
    summary = run_pipeline(spark, raw, io, cfg)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
