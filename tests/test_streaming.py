"""Streaming tier rollup: finite replay equals the batch rollup."""

import os
import tempfile

from pyspark.sql import functions as F

from mpnsm_spark.generator import generate_transcripts, with_value
from mpnsm_spark.schema import TRANSCRIPT_SCHEMA
from mpnsm_spark.streaming.rollup_stream import batch_equivalent, run_stream_to_memory

from .oracle_pandas import compare_frames

FLOATS = ("value_sum", "value_min", "value_max", "value_avg", "first_value", "last_value")


def test_streaming_rollup_equals_batch(spark):
    raw = with_value(
        generate_transcripts(spark, n_convs=15, n_turns=1200, seed=42)
    ).cache()
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream_src")
        # multiple files → multiple micro-batch candidates under availableNow
        raw.drop("value").repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        from mpnsm_spark.generator import with_value as wv

        from mpnsm_spark.operators.rollup import distinct_tool_vocab

        vocab = distinct_tool_vocab(raw)
        got = run_stream_to_memory(
            spark, wv(stream), "t1m_stream_test", tool_vocab=vocab
        ).toPandas()
    want = batch_equivalent(raw, vocab).toPandas()
    compare_frames(got, want, ["conv_id", "bucket_start"], float_cols=FLOATS)


def _write_batch(spark, rows, path):
    """One micro-batch file (file-source ordering follows mtime)."""
    import time

    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    time.sleep(1.1)  # distinct mtimes → deterministic file order


def test_stream_to_tableio_sink_and_late_drop(spark, tmp_path):
    """foreachBatch → TableIO sink: finalized windows land as snapshots with
    lineage; a row later than the watermark is DROPPED (bucket already
    finalized) and never corrupts the stored tier."""
    from mpnsm_spark.generator import with_value
    from mpnsm_spark.sources.tableio import TableIO
    from mpnsm_spark.streaming.rollup_stream import read_stream_tier, stream_to_tableio

    src = str(tmp_path / "src")
    on_time = [
        ("c1", 0, "user", "a", None, "2025-01-01 10:00:10"),
        ("c1", 1, "assistant", "bb", "exec", "2025-01-01 10:00:40"),
        ("c1", 2, "user", "ccc", None, "2025-01-01 10:05:05"),
        ("c2", 0, "user", "dddd", "browse", "2025-01-01 10:01:30"),
    ]
    advance = [("c2", 1, "assistant", "ee", None, "2025-01-01 10:30:00")]
    late = [("c1", 3, "user", "LATE", None, "2025-01-01 10:02:00")]  # dropped
    flush = [("__flush__", 0, "user", "x", None, "2025-01-01 11:00:00")]

    io = TableIO(str(tmp_path / "wh"))

    def run_available(_):
        # one availableNow run per arrival wave; the watermark persists in
        # the checkpoint, so each wave sees the PREVIOUS wave's watermark —
        # deterministic late-row semantics regardless of file batching
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_to_tableio(
                spark,
                with_value(stream),
                io,
                checkpoint_dir=str(tmp_path / "ckpt"),
                num_buckets=4,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for rows in (on_time, advance, late, flush):
        _write_batch(spark, rows, src)
        run_available(rows)

    got = read_stream_tier(spark, io, "tier_1m").toPandas()
    assert "__flush__" not in set(got["conv_id"])  # its window never finalized
    # the late 10:02 row must NOT have opened a window
    c1_buckets = set(got[got.conv_id == "c1"].bucket_start.dt.strftime("%H:%M"))
    assert c1_buckets == {"10:00", "10:05"}
    import pandas as pd

    exp_pdf = pd.DataFrame(
        on_time + advance,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    exp_pdf["ts"] = pd.to_datetime(exp_pdf["ts"])
    expected = with_value(spark.createDataFrame(exp_pdf, schema=TRANSCRIPT_SCHEMA))
    want = batch_equivalent(expected).toPandas()
    compare_frames(
        got.drop(columns=["tools_mask"], errors="ignore"),
        want,
        ["conv_id", "bucket_start"],
        float_cols=FLOATS,
    )
    # lineage rows for every micro-batch that emitted windows
    lin = io.read(spark, "lineage").toPandas()
    assert (lin.stage == "stream_tier_1m").all()
    assert lin.output_rows.sum() == len(got)


def test_stream_checkpoint_restart_appends_only_new(spark, tmp_path):
    """Second availableNow run on the same checkpoint processes only new
    files; the stored tier accumulates without duplicating old windows."""
    from mpnsm_spark.generator import with_value
    from mpnsm_spark.sources.tableio import TableIO
    from mpnsm_spark.streaming.rollup_stream import read_stream_tier, stream_to_tableio

    src = str(tmp_path / "src2")
    first = [
        ("c1", 0, "user", "a", None, "2025-01-01 09:00:05"),
        ("c1", 1, "user", "b", None, "2025-01-01 09:00:30"),
    ]
    flush1 = [("__f1__", 0, "user", "x", None, "2025-01-01 09:30:00")]
    _write_batch(spark, first, src)
    _write_batch(spark, flush1, src)

    io = TableIO(str(tmp_path / "wh2"))

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_to_tableio(
                spark,
                with_value(stream),
                io,
                checkpoint_dir=str(tmp_path / "ckpt2"),
                num_buckets=4,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = read_stream_tier(spark, io, "tier_1m").count()
    assert n1 == 1  # c1's 09:00 window

    second = [("c2", 0, "user", "c", None, "2025-01-01 09:40:00")]
    flush2 = [("__f2__", 0, "user", "y", None, "2025-01-01 10:30:00")]
    _write_batch(spark, second, src)
    _write_batch(spark, flush2, src)
    run_once()
    got = read_stream_tier(spark, io, "tier_1m").toPandas()
    assert len(got) == 3  # c1 window + __f1__ window (now finalized) + c2
    assert got[got.conv_id == "c1"].turn_count.iloc[0] == 2  # no duplication


def test_streaming_rollup_out_of_order_arrival(spark):
    """Rows arriving shuffled across micro-batches aggregate identically
    (state keyed on (conv, window); first/last bound to turn_idx)."""
    from pyspark.sql import functions as F

    raw = with_value(
        generate_transcripts(spark, n_convs=8, n_turns=600, seed=7)
    ).cache()
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream_src2")
        raw.drop("value").orderBy(F.xxhash64("text")).repartition(6).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        from mpnsm_spark.generator import with_value as wv

        got = run_stream_to_memory(spark, wv(stream), "t1m_stream_test2").toPandas()
    want = batch_equivalent(raw).toPandas()  # vocab-less fallback path
    compare_frames(got, want, ["conv_id", "bucket_start"], float_cols=FLOATS)


def test_streaming_gapfill_locf_equals_batch_anchored(spark, tmp_path):
    """Stateful streaming LOCF (applyInPandasWithState) == batch
    gapfill_anchored on (conv_id, bucket_start, is_gap, value_locf), with
    anchors split across MULTIPLE micro-batches so gap state genuinely
    crosses batch boundaries."""
    import os
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    from mpnsm_spark.operators.gapfill import gapfill_anchored
    from mpnsm_spark.streaming.gapfill_stream import run_gapfill_stream_to_memory

    rows = []
    for conv in ("a", "b"):
        # anchors with holes: 00:00, 03:00, 04:00, 09:00 (1h tier)
        for hour, val in ((0, 1.0), (3, 4.0), (4, 5.0), (9, 10.0)):
            rows.append((conv, f"2025-01-01 {hour:02d}:00:00", val + (conv == "b")))
    tier_pdf = pd.DataFrame(rows, columns=["conv_id", "bucket_start", "value_avg"])

    src_dir = str(tmp_path / "tier_src")
    os.makedirs(src_dir)
    batch_df = spark.createDataFrame(tier_pdf).withColumn(
        "bucket_start", F.to_timestamp("bucket_start")
    )
    # three time-sliced files -> three micro-batches (maxFilesPerTrigger=1);
    # mtimes staggered so the file source lists them in event-time order
    for i, cut in enumerate([(0, 1), (3, 5), (9, 10)]):
        part = batch_df.filter(
            (F.hour("bucket_start") >= cut[0]) & (F.hour("bucket_start") < cut[1])
        )
        part.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b{i}")
        _time.sleep(0.05)
        for root, _d, files in os.walk(f"{src_dir}/b{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (1e9 + i, 1e9 + i))

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*")
    )
    got = (
        run_gapfill_stream_to_memory(spark, stream, tier="1h")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    want = (
        gapfill_anchored(batch_df, "1h")
        .select("conv_id", "bucket_start", "is_gap", "value_locf")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 20  # 10 buckets x 2 convs
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # gaps genuinely crossed micro-batch boundaries (state carried 04:00->09:00)
    assert int(got["is_gap"].sum()) == 12


def test_streaming_gapfill_multi_arrow_chunk_group(spark, tmp_path):
    """One group whose micro-batch exceeds maxRecordsPerBatch: Arrow hands the
    kernel several chunks in arbitrary order. The LOCF walk must sort the
    CONCATENATED group, not each chunk independently (ADVICE r3: per-chunk
    sorting misclassified earlier epochs in later chunks as late rows and
    silently skipped gap emission)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mpnsm_spark.operators.gapfill import gapfill_anchored
    from mpnsm_spark.streaming.gapfill_stream import run_gapfill_stream_to_memory

    hours = [0, 2, 5, 6, 9, 13, 14, 18]  # 8 anchors > chunk size 3
    tier_pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(hours),
            "bucket_start": [f"2025-02-01 {h:02d}:00:00" for h in hours],
            "value_avg": [float(h) for h in hours],
        }
    )
    batch_df = spark.createDataFrame(tier_pdf).withColumn(
        "bucket_start", F.to_timestamp("bucket_start")
    )
    src = str(tmp_path / "chunk_src")
    # one file -> one micro-batch; 4 row groups via repartition so the state
    # kernel's Arrow iterator yields multiple frames
    batch_df.repartition(4).write.parquet(src)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        got = (
            run_gapfill_stream_to_memory(
                spark, stream, tier="1h", query_name="gapfill_chunks"
            )
            .toPandas()
            .sort_values("bucket_start")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = (
        gapfill_anchored(batch_df, "1h")
        .select("conv_id", "bucket_start", "is_gap", "value_locf")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 19  # hours 0..18 inclusive
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_cascade_equals_batch(spark):
    """1m→1h→1d as ONE chained stateful streaming job: finite replay across
    micro-batch boundaries (maxFilesPerTrigger=1) equals the batch cascade.
    Append mode only emits watermark-finalized buckets, so a far-future flush
    sentinel closes every real window; sentinel rows are filtered out."""
    import pandas as pd

    from mpnsm_spark.operators.rollup import cascade, distinct_tool_vocab, rollup_raw
    from mpnsm_spark.streaming.rollup_stream import run_cascade_to_memory

    raw = with_value(
        generate_transcripts(spark, n_convs=12, n_turns=900, seed=7)
    ).cache()
    vocab = distinct_tool_vocab(raw)
    max_ts = raw.agg({"ts": "max"}).collect()[0][0]

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "cascade_src")
        import time

        # chronological arrival waves: append mode DROPS rows later than the
        # watermark, so a faithful replay must deliver files in time order
        # (the module's streaming-consistency contract: "provided no row is
        # later than the watermark")
        bounds = raw.select(
            F.unix_timestamp("ts").cast("double").alias("e")
        ).approxQuantile("e", [0.25, 0.5, 0.75], 0.0)
        lo = None
        for hi in [*bounds, None]:
            wave = raw.drop("value")
            if lo is not None:
                wave = wave.filter(F.unix_timestamp("ts") > lo)
            if hi is not None:
                wave = wave.filter(F.unix_timestamp("ts") <= hi)
            wave.coalesce(1).write.mode("append").parquet(src)
            time.sleep(1.1)  # strictly increasing mtimes → in-order replay
            lo = hi
        # one flush file per chained stage: window finalization propagates
        # one stateful operator per micro-batch, so each successive flush
        # batch pushes eviction one stage deeper down the cascade
        for k in (3, 6, 9):
            flush_pdf = pd.DataFrame(
                [("__flush__", k, "user", "x", None, max_ts + pd.Timedelta(days=k))],
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            )
            time.sleep(1.1)  # strictly newer mtime → processed later
            spark.createDataFrame(
                flush_pdf, schema=TRANSCRIPT_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
        for tier, n_batches_expected in (("1h", None), ("1d", None)):
            stream = (
                spark.readStream.schema(TRANSCRIPT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            got = (
                run_cascade_to_memory(
                    spark,
                    with_value(stream),
                    to_tier=tier,
                    tool_vocab=vocab,
                    query_name=f"cascade_{tier}_test",
                )
                .filter("conv_id <> '__flush__'")
                .toPandas()
            )
            t1m = rollup_raw(raw, "1m", vocab)
            want = cascade(t1m, "1h", vocab)
            if tier == "1d":
                want = cascade(want, "1d", vocab)
            compare_frames(
                got, want.toPandas(), ["conv_id", "bucket_start"], float_cols=FLOATS
            )


def test_streaming_cascade_requires_vocab(spark):
    import pytest

    from mpnsm_spark.streaming.rollup_stream import streaming_cascade

    with pytest.raises(ValueError, match="tool_vocab"):
        streaming_cascade(None, to_tier="1d", tool_vocab=None)
    with pytest.raises(ValueError, match="to_tier"):
        streaming_cascade(None, to_tier="1w", tool_vocab=["a"])


def test_streaming_row_empty_events(spark, tmp_path):
    """The ``__spark_entry__`` streaming row on an EMPTY events table returns
    an empty frame with the row's schema (ADVICE r6: ``mx`` was None and the
    sentinel timestamp math raised TypeError)."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    events = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([dt.datetime(2024, 1, 1, 0, 5)] * 2, pa.timestamp("us")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": ["a", "b"],
            "value": [1.0, 2.0],
            "props": [None, None],
        }
    )
    for name, table in (("full", events), ("empty", events.slice(0, 0))):
        (tmp_path / name).mkdir()
        pq.write_table(table, tmp_path / name / "events.parquet")
    got = entrymod.q_streaming_rollup_1h(spark, str(tmp_path / "empty"))
    assert got.count() == 0
    full = entrymod.q_streaming_rollup_1h(spark, str(tmp_path / "full"))
    assert full.count() == 1
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'empty' / 'events.parquet'}')"
    )
    want = con.sql(entrymod.oracle_sql()["streaming_rollup_1h"]).df()
    assert len(want) == 0 and list(want.columns) == got.columns
