"""Structured Streaming tier rollup — incremental continuous aggregates.

The reference is strictly batch (SURVEY.md §2.9), but the engine's tier
rollups are directly expressible as streaming tumbling-window aggregations:
``groupBy(conv_id, window(ts, tier))`` with a watermark bounding how late a
turn may arrive. This module provides that surface for incremental arrival:

- late/out-of-order turns within the watermark update their bucket exactly
  like the batch rollup (the aggregation state is keyed on (conv, window));
- ``first/last by turn_idx`` is maintained with min_by/max_by — arrival-order
  independent, matching batch semantics;
- the sink is ``foreachBatch`` → TableIO append, so tier snapshots and
  lineage stay on the same storage path as the batch pipeline;
- the tool dictionary is REQUIRED by every entry point (``ValueError``
  without it): the distinct-tool set rides a fixed-width ``bit_or`` mask
  under the batch pipeline's dictionary, and the 1m window aggregates with
  the batch ``turn_aggregates`` over the batch encoder's output.

Streaming consistency contract (tested): for any finite input replayed as a
stream, the streaming tier table equals the batch ``rollup_raw`` of the same
rows, provided no row is later than the watermark.

Scale notes: state size = open windows × conversations with traffic in them;
the watermark bounds window lifetime so state is O(active convs × lateness /
tier). Use the 1m tier streaming and cascade 1h/1d in batch from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpnsm_spark.operators.rollup import (
    _combine,
    _finish_tier,
    encode_role_tool,
    rollup_raw,
    turn_aggregates,
)
from mpnsm_spark.schema import ROLES


def _windowed_1m(
    stream_df: DataFrame,
    watermark: str,
    tool_vocab: list[str] | None,
) -> DataFrame:
    """1m streaming aggregation keeping the ``win`` window struct (the
    cascade re-windows on it; :func:`_tier_rows` projects it away): the
    batch :func:`~mpnsm_spark.operators.rollup.turn_aggregates` over the
    encoded stream, grouped by ``window(ts, "1 minute")``."""
    if tool_vocab is None:
        raise ValueError(
            "streaming rollups require tool_vocab (bit_or mask state)"
        )
    encoded = encode_role_tool(
        stream_df.withWatermark("ts", watermark), ROLES, tool_vocab
    )
    return encoded.groupBy(
        F.col("conv_id"), F.window("ts", "1 minute").alias("win")
    ).agg(*turn_aggregates(ROLES))


def _tier_rows(agg: DataFrame, tool_vocab: list[str]) -> DataFrame:
    """Windowed aggregates → the batch tier schema (``bucket_start`` = window
    start, decoded tool columns)."""
    return _finish_tier(
        agg.withColumn("bucket_start", F.col("win.start")).drop("win"),
        tool_vocab,
    )


def streaming_rollup_1m(
    stream_df: DataFrame,
    watermark: str = "10 minutes",
    tool_vocab: list[str] | None = None,
) -> DataFrame:
    """Streaming 1m tier aggregation (append mode once the watermark passes).

    ``stream_df`` must be a streaming DataFrame with the transcript schema
    plus ``value``. Output schema matches the batch tier table.
    ``tool_vocab`` is REQUIRED (``ValueError`` without it): the distinct-tool
    set aggregates as a fixed-width ``bit_or`` bitmask under the same
    dictionary as the batch pipeline, and a stream can't scan its own input
    for one.
    """
    return _tier_rows(_windowed_1m(stream_df, watermark, tool_vocab), tool_vocab)


_CASCADE_DUR = {"1h": "1 hour", "1d": "1 day"}


def streaming_cascade(
    stream_df: DataFrame,
    to_tier: str = "1d",
    watermark: str = "10 minutes",
    tool_vocab: list[str] | None = None,
) -> DataFrame:
    """The full 1m→1h(→1d) tier cascade as ONE watermark-correct streaming
    job (chained stateful window aggregations, Spark 3.4+ multiple-stateful-
    operator support).

    Each stage re-windows the previous tier's window struct on its event
    time (``window(window_time(win), parent_duration)``) and combines with
    the SAME associative expressions as the batch :func:`~mpnsm_spark.
    operators.rollup.cascade` (``_combine``), so the streaming output is
    row-identical to cascading the batch tiers — the tier-consistency
    invariant (FIXTURES.md §2) extends to streaming. Watermark semantics
    chain naturally: a 1m window finalizes when the source watermark passes
    its end; a 1h window finalizes when every child 1m window has finalized;
    likewise 1d — so append mode emits each coarse bucket exactly once, only
    when it can no longer change.

    ``tool_vocab`` is REQUIRED: the distinct-tool union must ride a
    fixed-width ``bit_or`` mask through every stage — per-stage collect_set
    state is unbounded and non-associative across re-windows.

    Scale notes: state is (convs with open windows) rows per stage; the 1h
    and 1d stages see ~60× / ~1440× fewer input rows than the source, so the
    cascade's marginal state and shuffle are a rounding error on the 1m
    stage. Reference analog: none (the reference is batch-only,
    SURVEY.md §2.9); batch twin is operators/rollup.py ``rollup_tiers``.
    """
    if to_tier not in _CASCADE_DUR:
        raise ValueError(f"to_tier must be one of {sorted(_CASCADE_DUR)}")
    tiers = ["1h"] if to_tier == "1h" else ["1h", "1d"]
    agg = _windowed_1m(stream_df, watermark, tool_vocab)
    for tier in tiers:
        agg = _combine(
            agg.groupBy(
                "conv_id",
                F.window(F.window_time("win"), _CASCADE_DUR[tier]).alias("win"),
            )
        )
    return _tier_rows(agg, tool_vocab)


def run_cascade_to_memory(
    spark,
    stream_df: DataFrame,
    to_tier: str = "1d",
    tool_vocab: list[str] | None = None,
    watermark: str = "10 minutes",
    query_name: str = "tier_cascade_stream",
) -> DataFrame:
    """Drive a finite source through the chained cascade and return the
    materialized result (test harness).

    Chained stateful aggregations forbid ``complete`` mode, so this runs
    APPEND mode: only watermark-finalized buckets emit. Finite replays must
    therefore ship a flush sentinel (a row far enough in the future to close
    every real window — the caller filters it out); without one the final
    open buckets are absent by design.
    """
    agg = streaming_cascade(
        stream_df, to_tier=to_tier, watermark=watermark, tool_vocab=tool_vocab
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_to_memory(
    spark,
    stream_df: DataFrame,
    query_name: str = "tier_1m_stream",
    tool_vocab: list[str] | None = None,
) -> DataFrame:
    """Drive a finite source to completion through the streaming rollup and
    return the materialized result (test/verification harness). Requires
    ``tool_vocab``, like :func:`streaming_rollup_1m`.

    ``complete`` output mode: every trigger rewrites the full aggregate state,
    so the memory table holds the final tier rows even for buckets whose
    watermark never expired (finite replay).
    """
    agg = streaming_rollup_1m(stream_df, tool_vocab=tool_vocab)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def stream_to_tableio(
    spark,
    stream_df: DataFrame,
    io,
    table: str = "tier_1m",
    watermark: str = "10 minutes",
    tool_vocab: list[str] | None = None,
    checkpoint_dir: str | None = None,
    num_buckets: int = 16,
    run_id: str = "stream",
):
    """Production streaming sink: append-mode (only watermark-FINALIZED
    windows emit) through ``foreachBatch`` into the same TableIO commit path
    as the batch pipeline — one snapshot + one lineage append per micro-batch
    (per-bucket counts observed during the snapshot write, lineage rows
    committed on the driver), so ``read_tier`` and the resume machinery see
    streaming output identically to batch output.

    Exactly-once story: the checkpoint replays an uncommitted micro-batch
    after a crash; the replayed append writes identical rows at a higher
    snapshot version and :func:`read_stream_tier` keeps one copy per
    (conv_id, bucket_start) — the same crash-between-data-and-lineage
    contract as the batch stages (append mode emits each finalized window
    exactly once, so non-replay snapshots never overlap).

    Returns the configured DataStreamWriter — the caller picks the trigger
    (``.trigger(availableNow=True).start()`` for finite replay, processing-
    time triggers for continuous ingestion) and owns await/stop.
    ``tool_vocab`` is required, as for :func:`streaming_rollup_1m`.
    """
    import time as _time

    from pyspark.sql import Observation

    from mpnsm_spark.operators.skew import with_salt
    from mpnsm_spark.plans.pipeline import LINEAGE_TABLE, _lineage_rows

    agg = with_salt(
        streaming_rollup_1m(stream_df, watermark=watermark, tool_vocab=tool_vocab),
        num_buckets,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        t0 = _time.time()
        # Per-bucket stats are observed DURING the snapshot write, so the
        # lineage rows are built and committed on the driver: no second job.
        obs = Observation()
        metrics = []
        for b in range(num_buckets):
            c = F.col("bucket_id") == b
            metrics += [
                F.count_if(c).alias(f"n{b}"),
                F.sum(F.when(c, F.col("turn_count"))).alias(f"t{b}"),
            ]
        out = batch_df.observe(obs, *metrics).withColumn(
            "_v", F.lit(io.snapshot_version(table) + 1)
        )
        version = io.append(out, table, meta={"stream_batch": int(batch_id)})
        vals = obs.get
        stats = [
            {"bucket_id": b, "output_rows": vals[f"n{b}"], "input_rows": vals[f"t{b}"]}
            for b in range(num_buckets)
            if vals[f"n{b}"]
        ]
        io.append(
            _lineage_rows(run_id, f"stream_{table}", stats, _time.time() - t0, version),
            LINEAGE_TABLE,
        )

    writer = agg.writeStream.outputMode("append").foreachBatch(_sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def read_stream_tier(spark, io, table: str = "tier_1m") -> DataFrame:
    """Read a streaming-appended tier table. The batch reader's snapshot
    dedupe is BUCKET-granular (a batch stage writes a bucket atomically);
    streaming appends a bucket's windows across many micro-batches, so the
    dedupe unit here is the window itself: per (conv_id, bucket_start) keep
    the highest snapshot version (checkpoint-replay duplicates are identical
    rows at a higher ``_v``)."""
    df = io.read(spark, table)
    others = [c for c in df.columns if c not in ("conv_id", "bucket_start")]
    out = df.groupBy("conv_id", "bucket_start").agg(
        F.max_by(F.struct(*others), F.col("_v")).alias("_r")
    )
    return out.select(
        "conv_id", "bucket_start", *[F.col(f"_r.{c}").alias(c) for c in others]
    ).drop("_v", "bucket_id")


def batch_equivalent(raw_df: DataFrame, tool_vocab: list[str]) -> DataFrame:
    """The batch query a finite streaming replay under ``tool_vocab`` must
    equal (consistency oracle)."""
    return rollup_raw(raw_df, "1m", tool_vocab)
