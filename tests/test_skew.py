"""Skew machinery: salt buckets, hot-key sub-splitting, per-series kernel."""

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.operators.rollup import distinct_tool_vocab, merge_partials, rollup_raw
from mpnsm_spark.operators.skew import (
    apply_per_series,
    conv_sizes,
    fan_out,
    with_salt,
    with_sub_splits,
)

from .oracle_pandas import compare_frames

FLOATS = ("value_sum", "value_min", "value_max", "value_avg", "first_value", "last_value")


def test_salt_stable_and_bounded(transcripts):
    df = with_salt(transcripts, 8)
    stats = df.groupBy("conv_id").agg(F.countDistinct("bucket_id").alias("nb")).toPandas()
    assert (stats["nb"] == 1).all()  # one bucket per conversation
    ids = df.select("bucket_id").distinct().toPandas()["bucket_id"]
    assert ids.between(0, 7).all()


def test_sub_splits_bound_group_size(transcripts):
    sub = with_sub_splits(transcripts, split_threshold=50)
    sizes = sub.groupBy("conv_id", "sub_id").count().toPandas()
    assert (sizes["count"] <= 50).all()
    # cold conversations keep a single group
    cold = conv_sizes(transcripts).filter(F.col("n_turns") <= 50)
    cold_subs = sub.join(cold, "conv_id", "left_semi").select("sub_id").distinct()
    assert cold_subs.toPandas()["sub_id"].tolist() == [0]


def test_sub_splits_timestamp_order_col(transcripts):
    """Non-numeric order_col (timestamp): the rank-window path still bounds
    every (conv, sub) group and keeps cold conversations unsplit (ADVICE r3:
    the numeric-division path raised DATATYPE_MISMATCH for the tier tables'
    ``bucket_start`` default)."""
    sub = with_sub_splits(transcripts, split_threshold=50, order_col="ts")
    sizes = sub.groupBy("conv_id", "sub_id").count().toPandas()
    assert (sizes["count"] <= 50).all()
    cold = conv_sizes(transcripts).filter(F.col("n_turns") <= 50)
    cold_subs = sub.join(cold, "conv_id", "left_semi").select("sub_id").distinct()
    assert cold_subs.toPandas()["sub_id"].tolist() == [0]
    assert sub.count() == transcripts.count()  # row multiset preserved


def test_schema_column_names_commas_in_types(spark):
    """DDL parsing must survive comma-bearing types (ADVICE r3)."""
    from mpnsm_spark.operators.skew import _as_struct

    ddl = (
        "conv_id string, amt decimal(20,6), props map<string,int>, "
        "s struct<a:int,b:string>"
    )
    assert _as_struct(ddl).fieldNames() == ["conv_id", "amt", "props", "s"]


def test_per_series_kernel_with_split_matches_unsplit(spark, transcripts):
    """A per-series rollup kernel run with hot-key splitting + associative
    re-merge equals the plain SQL rollup (split safety end-to-end)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n": [len(pdf)],
                "vsum": [float(pdf["value"].sum())],
            }
        )
        return out

    schema = "conv_id string, n long, vsum double"
    split = apply_per_series(
        transcripts, kernel, schema, split_threshold=40
    )
    merged = split.groupBy("conv_id").agg(
        F.sum("n").alias("n"), F.sum("vsum").alias("vsum")
    )
    expected = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("vsum")
    )
    a = merged.toPandas().sort_values("conv_id").reset_index(drop=True)
    b = expected.toPandas().sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_split_rollup_remerge(transcripts):
    """Tier rollup of sub-split raw + merge_partials == unsplit rollup."""
    vocab = distinct_tool_vocab(transcripts)
    sub = with_sub_splits(transcripts, split_threshold=30)
    parts = rollup_raw(sub.drop("sub_id"), "1h", vocab)  # sanity: dropping split is the same df
    full = rollup_raw(transcripts, "1h").toPandas()
    merged = merge_partials(parts, vocab).toPandas()
    compare_frames(merged, full, ["conv_id", "bucket_start"], float_cols=FLOATS)


def _pandas_reference(df, kern, key="conv_id", order_col="turn_idx"):
    """Driver-side per-series reference: the kernel over each series of the
    collected frame, null keys included."""
    outs = [
        kern(g.sort_values(order_col).reset_index(drop=True))
        for _, g in df.toPandas().groupby(key, dropna=False)
    ]
    return pd.concat(outs, ignore_index=True)


def _rows(pdf: pd.DataFrame) -> Counter:
    """Row multiset, nulls as None."""
    return Counter(
        tuple(None if pd.isna(v) else v for v in r) for r in pdf.itertuples(index=False)
    )


def test_batch_buckets_matches_per_series(spark, transcripts):
    """The batched runner emits exactly the per-series results."""
    df = transcripts.select("conv_id", "turn_idx", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n": [len(pdf)],
                "first_v": [float(pdf["value"].iloc[0])],
            }
        )

    schema = "conv_id string, n bigint, first_v double"
    got = apply_per_series(df, kern, schema).toPandas()
    want = _pandas_reference(df, kern)
    assert len(want) == df.select("conv_id").distinct().count()
    assert _rows(got) == _rows(want)


def test_batch_buckets_error_isolation(spark, transcripts):
    """on_error='mark' turns only the failing series inside a batch into ONE
    marker row naming the key and the exception class; 'raise' propagates."""
    df = transcripts.select("conv_id", "turn_idx", "value")
    poison = df.select("conv_id").distinct().orderBy("conv_id").first()[0]

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["conv_id"].iloc[0] == poison:
            raise RuntimeError("poison series")
        return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]], "n": [len(pdf)]})

    out = apply_per_series(df, kern, "conv_id string, n bigint", on_error="mark")
    assert out.columns == ["conv_id", "n", "_status", "_error"]
    rows = out.collect()
    errors = [r for r in rows if r["_status"] == "error"]
    assert [(r["conv_id"], r["n"], r["_error"]) for r in errors] == [
        (poison, None, "RuntimeError")
    ]
    ok = [r["conv_id"] for r in rows if r["_status"] == "ok"]
    everyone = {r[0] for r in df.select("conv_id").distinct().collect()}
    assert sorted(ok) == sorted(everyone - {poison})
    assert all(r["_error"] is None for r in rows if r["_status"] == "ok")

    with pytest.raises(Exception, match="poison"):
        apply_per_series(df, kern, "conv_id string, n bigint").count()
    with pytest.raises(ValueError, match="on_error"):
        apply_per_series(df, kern, "conv_id string, n bigint", on_error="skip")


def test_mark_counts_exact_under_reexecution(spark, transcripts):
    """Marker rows are data, not a side channel: evaluating the same plan
    twice reads exactly one error both times (an accumulator updated inside
    the transformation would read 2 after the second action)."""
    df = transcripts.select("conv_id", "turn_idx", "value")
    poison = df.select("conv_id").distinct().orderBy("conv_id").first()[0]

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["conv_id"].iloc[0] == poison:
            raise RuntimeError("poison series")
        return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]]})

    out = apply_per_series(df, kern, "conv_id string", on_error="mark")
    errors = out.filter(F.col("_status") == "error")
    assert errors.count() == 1
    assert [r["conv_id"] for r in errors.collect()] == [poison]


RETRY_SCRIPT = """
import os
import sys

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mpnsm_spark.operators.skew import apply_per_series

spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate()
)
df = spark.createDataFrame(
    [(f"s{i:02d}", t, float(t)) for i in range(20) for t in range(5)],
    "conv_id string, turn_idx int, value double",
)


def kern(pdf):
    if pdf["conv_id"].iloc[0] == "s07":
        if TaskContext.get().attemptNumber() == 0:
            os._exit(1)  # the Python worker dies; Spark retries the task
        raise RuntimeError("poison series")
    return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]], "n": [len(pdf)]})


out = apply_per_series(df, kern, "conv_id string, n long", on_error="mark")
counts = {r[0]: r[1] for r in out.groupBy("_status").count().collect()}
print("COUNTS", counts.get("ok", 0), counts.get("error", 0))
spark.stop()
"""


def test_mark_counts_exact_after_worker_crash_retry(tmp_path):
    """A Python worker killed mid-task on its first attempt is retried
    (local[2,2] allows one retry); the retried task's marker and ok rows are
    counted exactly once."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_DRIVER_MEMORY": "1g"}
    script = tmp_path / "retry.py"
    script.write_text(RETRY_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script)], env=env, cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "COUNTS 19 1" in proc.stdout, proc.stdout[-2000:]


def test_batch_buckets_null_key_and_clean_columns(spark):
    """ADVICE r4: the batched runner must (a) run the kernel on null-key
    groups, like a Spark groupBy(key) does, and (b) never leak the _batch_id
    helper column into the kernel's input frame."""
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 2.0), (None, 0, 5.0), (None, 1, 7.0)],
        "conv_id string, turn_idx int, value double",
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        assert list(pdf.columns) == ["conv_id", "turn_idx", "value"]
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "vsum": [float(pdf["value"].sum())],
            }
        )

    schema = "conv_id string, vsum double"
    batched = _rows(apply_per_series(df, kern, schema).toPandas())
    reference = _rows(_pandas_reference(df, kern))
    assert batched == reference == Counter({("a", 3.0): 1, (None, 12.0): 1})


def test_batch_buckets_auto_resolves(spark, transcripts):
    """The unsplit runner always plans 2×defaultParallelism batches, resolved
    at call time, and produces per-series-identical results."""
    df = transcripts.select("conv_id", "turn_idx", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"conv_id": [pdf["conv_id"].iloc[0]], "n": [len(pdf)]})

    schema = "conv_id string, n bigint"
    out = apply_per_series(df, kern, schema)
    # the bucket count shows up as the shuffle partition count
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    assert _rows(out.toPandas()) == _rows(_pandas_reference(df, kern))


def test_fan_out_keeps_exchange_plans_lazy(spark):
    """fan_out must not run a job at build time: a joined, aggregated,
    windowed or globally sorted frame already plans an exchange, so it is returned unchanged without the
    ``df.rdd`` partition probe (ADVICE r6: the old probe matched the
    logical-plan STRING for "Exchange", which logical plans never contain,
    and executed the join/aggregate exchanges at build time)."""
    from pyspark.sql import Window

    rows = spark.range(1000).selectExpr("cast(id % 37 as string) AS conv_id", "id")
    aggregated = conv_sizes(rows)
    joined = rows.join(aggregated, "conv_id")
    ranked = rows.withColumn(
        "rn", F.row_number().over(Window.partitionBy("conv_id").orderBy("id"))
    )
    sc = spark.sparkContext
    for i, frame in enumerate((joined, aggregated, ranked, rows.orderBy("id"))):
        group = f"fan_out_probe_{i}"
        sc.setJobGroup(group, "fan_out build-time probe")
        try:
            out = fan_out(frame, key=frame.columns[0])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert out is frame
