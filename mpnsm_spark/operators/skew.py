"""Explicit skew handling and the engine's one grouped-map kernel runner.

The reference load-balances only via "many series × n_jobs workers"
(``/root/reference/mpnsm/time_series/manager.py:308-313``); one giant series
stalls a worker — the same pathology as a hot ``conv_id`` in a
``groupBy(conv_id).applyInPandas`` stage, which AQE cannot split
(SURVEY.md §4). This module makes the skew strategy explicit:

1. **salt buckets** — ``bucket_id = pmod(xxhash64(conv_id), B)`` distributes
   conversations across B buckets for lineage/commit granularity and for
   pre-shuffle balance;
2. **hot-conversation sub-splitting** — a size pre-pass finds conversations
   above ``split_threshold`` turns; only those are split into bounded
   ``sub_id`` ranges by ``turn_idx``, so every grouped-map group is
   ≤ threshold rows. Results are re-merged by an associative combine
   (e.g. ``rollup.merge_partials``) — safe for all tier columns by design.

:func:`apply_per_series` is the engine's analog of mpnsm's per-series
parallel fitting loop (SURVEY.md §2.10 F1) and the only place a per-series
pandas kernel is run: the public operators and the pipeline's kernel stages
all go through it. It owns the grouped-map policy — the sort, the null-key
and dtype rules, error isolation by marker rows, and the choice between
its two plan shapes: batched for unsplit input, per ``(key, sub_id)`` group
for split input.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mpnsm_spark.functions.arrowcfg import tame_arrow_threads


def with_salt(df: DataFrame, num_buckets: int, key: str = "conv_id") -> DataFrame:
    """Stable salt bucket per key: pmod(xxhash64(key), B)."""
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")
    )


def fan_out(df: DataFrame, key: str, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow-parallelism input across the cluster BEFORE per-row
    expensive work (heavy expressions, higher-order functions, Python
    kernels).

    A single unsplittable input (one parquet row group, a gzip file, a small
    dimension table) plans as a 1-task scan, serializing everything that runs
    before the first exchange — the input-skew case of the optimization
    playbook ("one huge unsplittable file: repartition immediately after the
    read"). This repartitions by ``pmod(xxhash64(key), n)`` — DETERMINISTIC
    (retried tasks reproduce the same placement; round-robin repartition of
    non-deterministic input can duplicate/lose rows, SPARK-38388) — and only
    when the current plan has fewer partitions than ``min_partitions``
    (default ``sparkContext.defaultParallelism``). At production scale the
    scan already has hundreds of splits and this is a structural no-op: no
    shuffle is added.

    Laziness note: the partition-count probe uses ``df.rdd``, which under
    AQE EXECUTES any exchange in the plan at build time (a real Spark job,
    re-run again at action time). So a frame whose optimized logical plan
    has a node that plans an exchange — a repartition, join, aggregate,
    window or global sort — is returned unchanged WITHOUT probing:
    composition stays lazy and the double execution cannot happen. Such a
    frame's partitioning is already decided by that exchange. The probe only
    runs for exchange-free plans (scans/projections), where ``.rdd`` is
    planning-only.
    """
    if _plans_exchange(df._jdf.queryExecution().optimizedPlan()):  # noqa: SLF001
        return df
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def _plans_exchange(plan) -> bool:
    """Whether a (JVM) logical plan has a node that plans a shuffle."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith(("Repartition", "RebalancePartitions", "Join",
                            "Aggregate", "Window")):
            return True
        if name == "Sort" and getattr(node, "global")():
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def conv_sizes(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Size pre-pass (reference: empty-series pruning / load balance,
    ``deprecated/ts_manager.py:215-216``)."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n_turns"))


def with_sub_splits(
    df: DataFrame,
    split_threshold: int,
    key: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Add ``sub_id`` splitting only hot keys into ≤ threshold-row ranges.

    Cold conversations get sub_id=0 (single group, no behavior change). The
    size pre-pass result is broadcast — it is tiny (one row per conversation
    above threshold).

    For a NUMERIC ``order_col`` (the dense 0-based ``turn_idx``) the sub-range
    is ``order_col // threshold`` — a pure map-side projection. For any other
    type (e.g. the tier tables' ``bucket_start`` timestamp — ADVICE r3:
    dividing a timestamp raises DATATYPE_MISMATCH at analysis) a per-key rank
    window computes the dense index; the window runs over the HOT rows only,
    so its sort cost is bounded by the (few, by definition) hot conversations
    and cold rows stay on the map-only path.
    """
    hot = (
        conv_sizes(df, key)
        .filter(F.col("n_turns") > split_threshold)
        .select(key, F.lit(True).alias("_is_hot"))
    )
    joined = df.join(F.broadcast(hot), key, "left")
    numeric_types = {"tinyint", "smallint", "int", "bigint", "long", "float", "double"}
    dtype = dict(df.dtypes).get(order_col, "")
    if dtype in numeric_types or dtype.startswith("decimal"):
        return joined.withColumn(
            "sub_id",
            F.when(
                F.col("_is_hot").isNotNull(),
                (F.col(order_col) / F.lit(split_threshold)).cast("long"),
            ).otherwise(F.lit(0)),
        ).drop("_is_hot")
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(order_col)
    cold = joined.filter(F.col("_is_hot").isNull()).withColumn(
        "sub_id", F.lit(0).cast("long")
    )
    hot_rows = joined.filter(F.col("_is_hot").isNotNull()).withColumn(
        "sub_id",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(split_threshold)).cast("long"),
    )
    return cold.unionByName(hot_rows).drop("_is_hot")


def _as_struct(output_schema) -> StructType:
    # Parse DDL strings with the real parser: naive comma-splitting breaks on
    # types that contain commas — decimal(20,6), map<string,int>, struct<...>
    # (ADVICE r3).
    if isinstance(output_schema, str):
        return StructType.fromDDL(output_schema)
    return output_schema


def apply_per_series(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema,
    split_threshold: int | None = None,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    on_error: str = "raise",
) -> DataFrame:
    """Run a pandas kernel once per series — mpnsm's flagship operator (the
    per-series joblib loop, ``manager.py:308-313``) and the engine's ONLY
    grouped-map runner.

    ``fn`` receives one series' rows sorted by ``order_col`` (a column name
    or a list of them) and must return a frame matching ``output_schema``
    that carries the key column through. Null keys form a series of their
    own. Zero-row results are dropped before the batch concat, so an empty
    series never upcasts the dtypes of the others.

    Two plan shapes, chosen by the input:

    - **batched** (no ``split_threshold``): rows are hash-spread over
      ``2 × defaultParallelism`` batches, ``pmod(xxhash64(key), n)``, and the
      wrapper loops the series of one batch with a pandas groupby. Python is
      invoked once per batch instead of once per series (the
      invocation-amortising argument of *Accelerating Python UDFs in
      Vectorized Query Execution*, CIDR 2022). The explicit
      ``repartition(n)`` is exempt from AQE coalescing, which would otherwise
      squeeze the byte-small shuffle onto 1-2 tasks; 2× the cores leaves
      headroom for the ~1/e empty buckets hash collisions produce. The helper
      ``_batch_id`` column never reaches ``fn``.
    - **split** (``split_threshold`` set): hot series are sub-split by
      :func:`with_sub_splits` and ``fn`` runs once per ``(key, sub_id)``
      group, so no group exceeds the threshold. Only safe when the caller
      re-merges the kernel's output associatively (tier rollups do).

    Per-series error isolation (reference: a failed series must not fail
    the job, ``deprecated/ts_model.py:1258-1260``): ``on_error="raise"``
    propagates the kernel's exception; ``on_error="mark"`` appends
    ``_status``/``_error`` columns to ``output_schema`` and turns a failing
    series into ONE marker row — the key, nulls elsewhere,
    ``_status='error'`` and the exception class in ``_error`` — while good
    rows carry ``_status='ok'``. The marker rows are part of the result, so
    counts stay exact however often Spark evaluates or retries the plan.
    """
    if on_error not in ("raise", "mark"):
        raise ValueError(f"on_error must be 'raise' or 'mark', got {on_error!r}")
    schema = _as_struct(output_schema)
    if on_error == "mark":
        schema = StructType(
            [*schema.fields, StructField("_status", StringType()),
             StructField("_error", StringType())]
        )
    cols = schema.fieldNames()

    def run_series(g: pd.DataFrame) -> pd.DataFrame:
        tame_arrow_threads()
        try:
            out = fn(g.sort_values(order_col).reset_index(drop=True))
            return out.assign(_status="ok", _error=None) if on_error == "mark" else out
        except Exception as e:  # noqa: BLE001 — the isolation contract
            if on_error == "raise":
                raise
            marker = {c: [None] for c in cols}
            marker[key] = [g[key].iloc[0]]
            marker["_status"] = ["error"]
            marker["_error"] = [type(e).__name__]
            return pd.DataFrame(marker)

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for _, g in pdf.drop(columns=["_batch_id"]).groupby(key, sort=False, dropna=False):
            r = run_series(g)
            if len(r):
                outs.append(r)
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(columns=cols)

    if split_threshold is not None:
        sub = with_sub_splits(df, split_threshold, key=key, order_col=order_col)
        return sub.groupBy(key, "sub_id").applyInPandas(run_series, schema).drop("sub_id")
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return (
        df.withColumn("_batch_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int"))
        .repartition(n, "_batch_id")
        .groupBy("_batch_id")
        .applyInPandas(run_batch, schema)
    )
