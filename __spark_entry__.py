"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: map the events stream into the transcript shape
and run the engine's full tier cascade, returning the 1h tier.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, each Spark callable paired with DuckDB-runnable ANSI SQL that
computes the same result with the same column names.

Float determinism contract between Spark and DuckDB: every SUM over doubles
goes through an exact DECIMAL(20,6) cast (both engines do exact decimal
arithmetic → identical values), ratios divide the identical doubles, so the
driver's value-hash comparison is bitwise-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# --------------------------------------------------------------------- helpers

DEC = "decimal(20,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col: str):
    """Exact decimal sum surfaced as double (cross-engine bitwise stable)."""
    return F.sum(F.col(col).cast(DEC)).cast("double")


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events → transcript shape → normalize → 1m rollup → 1h cascade."""
    from mpnsm_spark.operators.rollup import cascade, rollup_raw
    from mpnsm_spark.plans.pipeline import normalize

    ev = _t(spark, "/root/testdata/sf0.001", "events")
    transcripts = ev.select(
        F.concat(F.lit("conv"), F.col("user_id").cast("string")).alias("conv_id"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("int")
        .alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
    )
    norm = normalize(transcripts, num_buckets=8)
    return cascade(rollup_raw(norm, "1m"), "1h")


# --------------------------------------------------------------- query bodies


def q_tier_1m_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: tier rollup — per (user, minute) bucket aggregates."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.date_trunc("minute", "ts").alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.min_by("value", "event_id").alias("first_value"),
            F.max_by("value", "event_id").alias("last_value"),
            F.countDistinct("event_type").alias("distinct_types"),
        )
        .withColumn("value_avg", F.col("value_sum") / F.col("n_events"))
    )


SQL_TIER_1M = """
SELECT user_id,
       date_trunc('minute', ts) AS bucket_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       min_by(value, event_id) AS first_value,
       max_by(value, event_id) AS last_value,
       count(DISTINCT event_type) AS distinct_types,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
FROM events
GROUP BY 1, 2
"""


def q_tier_1h_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 cascade: 1h tier computed by re-aggregating the 1m tier (exact
    continuous-aggregate consistency — oracle computes 1h directly)."""
    ev = _t(spark, sf_dir, "events")
    t1m = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("_dec_sum"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )
    return (
        t1m.groupBy(
            "user_id", F.date_trunc("hour", "bucket_start").alias("bucket_start")
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_dec_sum").cast("double").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
        .withColumn("value_avg", F.col("value_sum") / F.col("n_events"))
    )


SQL_TIER_1H = """
SELECT user_id,
       date_trunc('hour', ts) AS bucket_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
FROM events
GROUP BY 1, 2
"""


def q_gapfill_locf_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+W5+W6: dense hourly grid per user, LOCF + linear interpolation.

    Uses the fused anchored path (one lead() window + explode, no grid join)
    — valid because the hourly value_avg aggregate is never null; bitwise
    parity with the generic grid-join path is pinned by
    tests/test_gapfill.py::test_gapfill_anchored_bitwise_equals_generic."""
    from mpnsm_spark.operators.gapfill import gapfill_anchored

    ev = _t(spark, sf_dir, "events")
    t1h = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast(DEC)).alias("s"))
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            "bucket_start",
            (F.col("s").cast("double") / F.col("n")).alias("value_avg"),
        )
    )
    out = gapfill_anchored(t1h, "1h")
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "bucket_start",
        "is_gap",
        "value_locf",
        "value_linear",
    )


SQL_GAPFILL_1H = """
WITH t1h AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
  FROM events GROUP BY 1, 2
), extent AS (
  SELECT user_id, min(bucket_start) AS b0, max(bucket_start) AS b1 FROM t1h GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket_start
  FROM extent
), dense AS (
  SELECT g.user_id, g.bucket_start, t.value_avg AS v
  FROM grid g LEFT JOIN t1h t USING (user_id, bucket_start)
), anchored AS (
  SELECT user_id, bucket_start, v,
    last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
    first_value(v IGNORE NULLS) OVER w_next AS next_v,
    last_value(CASE WHEN v IS NOT NULL THEN epoch(bucket_start) END IGNORE NULLS) OVER w_prev AS prev_t,
    first_value(CASE WHEN v IS NOT NULL THEN epoch(bucket_start) END IGNORE NULLS) OVER w_next AS next_t
  FROM dense
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket_start,
       v IS NULL AS is_gap,
       coalesce(prev_v, next_v) AS value_locf,
       CASE WHEN v IS NOT NULL THEN v
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
              prev_v + (next_v - prev_v) * (epoch(bucket_start) - prev_t) / (next_t - prev_t)
            ELSE coalesce(prev_v, next_v) END AS value_linear
FROM anchored
"""


def q_dedupe_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12/A6/U2: keep the latest event per (user, event_type)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


SQL_DEDUPE = """
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-3 events by value per user (deterministic tie-break)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", "value")
    )


SQL_TOPK = """
SELECT user_id, rank, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
  FROM events
) WHERE rank <= 3
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7+W9: sessionization — new session when gap > 30 min."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap_flag = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = F.sum(gap_flag).over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  -- floor(epoch(.)) matches Spark's second-truncating unix_timestamp()
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM numbered GROUP BY 1, 2
"""


def q_rolling_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: centered 5-row rolling mean per user (reference smoothing)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    return ev.select(
        "user_id",
        "event_id",
        (F.sum(F.col("value").cast(DEC)).over(w).cast("double")
         / F.count(F.lit(1)).over(w)).alias("smooth"),
    )


SQL_ROLLING = """
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
         / count(*) OVER w AS smooth
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


def q_second_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: second difference (changepoint second derivative)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lag1 = F.lag("value", 1).over(w)
    lag2 = F.lag("value", 2).over(w)
    return ev.select(
        "user_id", "event_id", (F.col("value") - 2 * lag1 + lag2).alias("d2")
    )


SQL_SECOND_DIFF = """
SELECT user_id, event_id,
       value - 2 * lag(value, 1) OVER w + lag(value, 2) OVER w AS d2
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: resume filter — drop users already 'completed' (here: > 80 events)."""
    ev = _t(spark, sf_dir, "events")
    done = ev.groupBy("user_id").count().filter(F.col("count") > 80).select("user_id")
    return (
        ev.join(done, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_ANTI_JOIN = """
SELECT user_id, count(*) AS n_events
FROM events
WHERE user_id NOT IN (
  SELECT user_id FROM events GROUP BY user_id HAVING count(*) > 80
)
GROUP BY user_id
"""


def q_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J3: enrich events with their user's daily aggregate (broadcast)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(_dsum("value").alias("day_sum"))
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .join(F.broadcast(daily), ["user_id", "day"], "left")
        .select(
            "event_id",
            "user_id",
            "value",
            "day_sum",
            (F.col("value") / F.col("day_sum")).alias("share"),
        )
    )


SQL_ENRICH = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS day_sum
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.value, d.day_sum, e.value / d.day_sum AS share
FROM events e LEFT JOIN daily d
  ON e.user_id = d.user_id AND date_trunc('day', e.ts) = d.day
"""


def q_wmape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/F3: WMAPE metric kernel — |y - yhat| mass over |y| mass per type,
    with yhat = previous value (LOCF one-step 'forecast')."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    pred = ev.withColumn("yhat", F.lag("value").over(w)).filter(
        F.col("yhat").isNotNull()
    )
    return pred.groupBy("event_type").agg(
        (
            F.sum(F.abs(F.col("value") - F.col("yhat")).cast(DEC)).cast("double")
            / F.sum(F.abs(F.col("value")).cast(DEC)).cast("double")
        ).alias("wmape"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_WMAPE = """
WITH pred AS (
  SELECT event_type, value,
         lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS yhat
  FROM events
)
SELECT event_type,
       CAST(sum(CAST(abs(value - yhat) AS DECIMAL(20,6))) AS DOUBLE)
         / CAST(sum(CAST(abs(value) AS DECIMAL(20,6))) AS DOUBLE) AS wmape,
       count(*) AS n
FROM pred WHERE yhat IS NOT NULL
GROUP BY event_type
"""


def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-user modal event type (deterministic tie-break by name)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


SQL_MODE = """
SELECT user_id, event_type AS mode_type, n FROM (
  SELECT user_id, event_type, count(*) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: exact interpolated quantiles per event type (reference IQR caps)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q25"),
        F.percentile("value", 0.5).alias("q50"),
        F.percentile("value", 0.75).alias("q75"),
    )


SQL_QUANTILES = """
SELECT event_type,
       quantile_cont(value, 0.25) AS q25,
       quantile_cont(value, 0.50) AS q50,
       quantile_cont(value, 0.75) AS q75
FROM events GROUP BY event_type
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General agg proof on lineitem (pricing summary)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
        ).cast("double").alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_gorilla_roundtrip_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: Gorilla encode→decode of the 1m tier must reproduce value_avg
    bitwise — the oracle is simply the 1m rollup itself."""
    from mpnsm_spark.operators.gorilla import decode_chunks, encode_tier_chunks

    ev = _t(spark, sf_dir, "events")
    t1m = (
        ev.groupBy(
            F.col("user_id").cast("string").alias("conv_id"),
            F.date_trunc("minute", "ts").alias("bucket_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast(DEC)).alias("s"))
        .withColumn("value_avg", F.col("s").cast("double") / F.col("n"))
    )
    # events are sparse (~1 point / 15 min / user): a large chunk span keeps
    # chunks dense enough that per-chunk decode overhead stays amortized.
    # Explicit partition count: the encode/decode kernels are Python-side
    # (cheap bytes, expensive rows), so AQE's bytes-based coalescing would
    # collapse the exchange to 1 task and serialize both kernels.
    chunks = encode_tier_chunks(
        t1m,
        "1m",
        points_per_chunk=65536,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return decode_chunks(chunks).select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "bucket_start",
        F.col("value").alias("value_avg"),
    )


SQL_GORILLA_1M = """
SELECT user_id,
       date_trunc('minute', ts) AS bucket_start,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------- reference-parity extras


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON: parse the props payload (from_json ↔ json_extract)."""
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    return (
        ev.withColumn("k", F.from_json("props", schema)["k"])
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


SQL_JSON_PROPS = """
SELECT event_type,
       count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
"""


def q_rolling_sum_minperiods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: trailing 5-row rolling sum that is NULL until the window is full
    (pandas min_periods=window semantics via a parallel count guard)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    s = F.sum(F.col("value").cast(DEC)).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id", "event_id", F.when(n == 5, s).alias("roll_sum_full")
    )


SQL_ROLLING_MINP = """
SELECT user_id, event_id,
       CASE WHEN count(*) OVER w = 5
            THEN CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) END AS roll_sum_full
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+P6: per-user IQR fence outlier flags (reference quantile caps)."""
    from mpnsm_spark.operators.outliers import iqr_outliers

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("string").alias("conv_id"), "value"
    )
    out = iqr_outliers(ev, key="conv_id")
    return out.select(
        "event_id",
        F.col("conv_id").cast("bigint").alias("user_id"),
        "value",
        "is_outlier",
        "fence_lo",
        "fence_hi",
    )


SQL_IQR = """
WITH fences AS (
  SELECT user_id,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.value,
       (e.value < q1 - 1.5 * (q3 - q1)) OR (e.value > q3 + 1.5 * (q3 - q1)) AS is_outlier,
       q1 - 1.5 * (q3 - q1) AS fence_lo,
       q3 + 1.5 * (q3 - q1) AS fence_hi
FROM events e JOIN fences USING (user_id)
"""


def q_outlier_dummies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier dummy-encoding mode (reference outlier_handle='fit',
    forecast.py:283-303): rows kept, one indicator regressor column per
    outlier day. The wide dummy columns are folded back to scalars for the
    driver hash (column set is data-dependent, oracle SQL is static):
    dummy_active = row-sum over ALL dummy columns (proves each outlier row
    activates exactly its own day's column and nothing else), n_dummy_cols =
    the projected column count (proves one column per distinct outlier day).
    """
    from mpnsm_spark.operators.outliers import outlier_dummies

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        "value",
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    wide = outlier_dummies(
        ev, key="conv_id", value_col="value", date_col="day", max_dummies=512
    )
    dummy_cols = [c for c in wide.columns if c.startswith("outlier_2")]
    active = F.lit(0)
    for c in dummy_cols:
        active = active + F.col(c)
    return wide.select(
        "event_id",
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("is_outlier").cast("int").alias("is_outlier"),
        active.cast("int").alias("dummy_active"),
        F.lit(len(dummy_cols)).cast("int").alias("n_dummy_cols"),
    )


SQL_OUTLIER_DUMMIES = """
WITH fences AS (
  SELECT user_id,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY user_id
), flags AS (
  SELECT e.event_id, e.user_id, date_trunc('day', e.ts) AS day,
         (e.value < q1 - 1.5 * (q3 - q1)) OR (e.value > q3 + 1.5 * (q3 - q1)) AS is_outlier
  FROM events e JOIN fences USING (user_id)
), ndays AS (
  SELECT count(DISTINCT day) AS n FROM flags WHERE is_outlier
)
SELECT event_id, user_id,
       CAST(is_outlier AS INT) AS is_outlier,
       CAST(is_outlier AS INT) AS dummy_active,
       CAST((SELECT n FROM ndays) AS INT) AS n_dummy_cols
FROM flags
"""


def q_tail_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: alternating extreme-trim to ≤20 rows/user, closed form."""
    from mpnsm_spark.operators.outliers import tail_trim

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        "value",
    )
    out = tail_trim(ev, max_keep=20, order_col="turn_idx")
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("turn_idx").alias("event_id"),
        "value",
    )


SQL_TAIL_TRIM = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         count(*) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS ra,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rd
  FROM events
)
SELECT user_id, event_id, value FROM ranked
WHERE rd > ceil(greatest(n - 20, 0) / 2.0)
  AND ra > floor(greatest(n - 20, 0) / 2.0)
"""


def q_cv_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: expanding CV fold membership counts per (user, fold, role)."""
    from mpnsm_spark.functions.cvsplits import expanding_folds

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_start"),
        F.col("event_id"),
        "value",
    )
    lab = expanding_folds(
        ev, horizon=10, n_folds=3, jump=5, order_col="bucket_start", min_train=5
    )
    return lab.groupBy("conv_id", "fold", "role_cv").agg(
        F.count(F.lit(1)).alias("n"), _dsum("value").alias("value_sum")
    ).select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "fold",
        "role_cv",
        "n",
        "value_sum",
    )


SQL_CV = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), folds AS (
  SELECT o.*, f.fold, o.n - 10 - f.fold * 5 AS cutoff
  FROM ordered o CROSS JOIN (SELECT unnest(range(3)) AS fold) f
  WHERE o.n - 10 - f.fold * 5 >= 5
), labeled AS (
  SELECT user_id, fold, value,
         CASE WHEN rn <= cutoff THEN 'train'
              WHEN rn <= cutoff + 10 THEN 'test' END AS role_cv
  FROM folds
)
SELECT user_id, fold, role_cv, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
FROM labeled WHERE role_cv IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_config_inherit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: hierarchical config inheritance — nation-level overrides region-
    level defaults; every customer must resolve (coverage assert)."""
    from mpnsm_spark.operators.config import resolve_config

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    units = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey", "n_nationkey", "n_regionkey"
    )
    region_cfg = reg.select(
        F.col("r_regionkey").alias("n_regionkey"),
        (F.col("r_regionkey") * 1.0).alias("growth"),
    )
    nation_cfg = nat.filter(F.col("n_nationkey") % 3 == 0).select(
        "n_nationkey", (100.0 + F.col("n_nationkey")).alias("growth")
    )
    out = resolve_config(
        units,
        [(["n_regionkey"], region_cfg), (["n_nationkey"], nation_cfg)],
        ["growth"],
    )
    return out.select("c_custkey", "growth")


SQL_CONFIG = """
SELECT c.c_custkey,
       coalesce(ncfg.growth, rcfg.growth) AS growth
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN (SELECT n_nationkey, 100.0 + n_nationkey AS growth
           FROM nation WHERE n_nationkey % 3 = 0) ncfg
       ON n.n_nationkey = ncfg.n_nationkey
LEFT JOIN (SELECT r_regionkey, r_regionkey * 1.0 AS growth FROM region) rcfg
       ON n.n_regionkey = rcfg.r_regionkey
"""


def q_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: per-series changepoint selection. The greedy min-distance pass is
    sequential per series and runs inside the grouped-map kernel; the oracle
    replays it exactly with a recursive CTE (smooth → |d2| → half-up 6dp
    round → score-desc/pos-asc greedy walk)."""
    from mpnsm_spark.operators.outliers import changepoints

    ev = _t(spark, sf_dir, "events")
    t1h = (
        ev.groupBy(
            F.col("user_id").cast("string").alias("conv_id"),
            F.date_trunc("hour", "ts").alias("bucket_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast(DEC)).alias("s"))
        .withColumn("value_avg", F.col("s").cast("double") / F.col("n"))
    )
    return changepoints(t1h, n_changepoints=5, min_distance=3)


# ----------------------------------------------------- training-data queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keep lowest doc_id per digest."""
    from mpnsm_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score per document."""
    from mpnsm_spark.operators.skew import fan_out
    from mpnsm_spark.operators.text import quality_score

    # The per-row feature expressions (marker counts, translate, regex
    # splits) run in the scan stage — spread the one-file scan first.
    return quality_score(fan_out(_t(spark, sf_dir, "documents"), key="doc_id")).select(
        "doc_id", "n_tokens", "punct_ratio", "stop_ratio", "mean_tok_len", "quality_score"
    )


def _sql_count_occ(padded: str, needle: str) -> str:
    n = len(needle)
    return f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) / {n} AS INT)"


def _sql_en_hits(textexpr: str) -> str:
    padded = f"(' ' || lower({textexpr}) || ' ')"
    return " + ".join(_sql_count_occ(padded, f" {w} ") for w in ("the", "and", "of", "is", "a"))


SQL_DOC_QUALITY = f"""
WITH feat AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(replace(replace(replace(replace(replace(replace(
             text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS n_punct,
         {_sql_en_hits('text')} AS stop_hits
  FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
       CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_tok_len,
       (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
        + CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE)/n_tokens ELSE 0.0 END) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END
        + CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) <= 0.1 THEN 0.15 ELSE 0.0 END
        + CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE)/n_tokens ELSE 0.0 END) >= 0.01 THEN 0.15 ELSE 0.0 END
       ) AS quality_score
FROM feat
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic per document."""
    from mpnsm_spark.operators.skew import fan_out
    from mpnsm_spark.operators.text import lang_id

    # 20 marker-count expressions per row in the scan stage — spread the
    # one-file scan first (fan_out is a no-op on well-split inputs).
    return lang_id(fan_out(_t(spark, sf_dir, "documents"), key="doc_id")).select(
        "doc_id", "hits_en", "hits_de", "hits_fr", "hits_es", "pred_lang"
    )


def _sql_lang_hits(lang_words: tuple[str, ...]) -> str:
    padded = "(' ' || lower(text) || ' ')"
    return " + ".join(_sql_count_occ(padded, f" {w} ") for w in lang_words)


SQL_LANG_ID = f"""
WITH hits AS (
  SELECT doc_id,
         {_sql_lang_hits(('the', 'and', 'of', 'is', 'a'))} AS hits_en,
         {_sql_lang_hits(('der', 'die', 'und', 'ist', 'das'))} AS hits_de,
         {_sql_lang_hits(('le', 'la', 'et', 'est', 'les'))} AS hits_fr,
         {_sql_lang_hits(('el', 'los', 'es', 'y', 'una'))} AS hits_es
  FROM documents
)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
            WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
            WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
            WHEN hits_es = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM hits
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full + 64-char-prefix fingerprints of normalized text."""
    from mpnsm_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fp_full", "fp_prefix64"
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_full,
       md5(substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 64)) AS fp_prefix64
FROM documents
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5.

    Scores rounded to 6 dp in BOTH engines (summation-order tolerance); rank
    computed on the rounded score with id tie-break so orderings agree.
    """
    from pyspark.sql import Window

    from mpnsm_spark.operators.similarity import cosine
    from mpnsm_spark.operators.skew import fan_out

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    # dim=64 (the table's fixed width, TESTDATA.md) — bitwise-identical
    # scores via the _dot_auto contract (similarity.py); fan_out spreads
    # the one-file corpus scan across the cluster.
    scored = (
        fan_out(emb, key="vec_id").crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine(F.col("q_vec"), F.col("embedding"), dim=64), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "score")
    )


SQL_ANN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(
           list_dot_product(q.q_vec, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.q_vec, q.q_vec))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
           6) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, md5 hash strategy: every stage —
    shingling, k-permutation signatures (lexicographic min of salted md5),
    banding, candidate join, exact-Jaccard verify — is replayed verbatim by
    the DuckDB oracle, so the LSH pipeline is value-checked end to end."""
    from mpnsm_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5, hash_strategy="md5"
    )


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + blocking buckets (md5 token hashes folded in an
    Arrow kernel; the oracle recomputes all 64 bit-votes in SQL)."""
    from mpnsm_spark.operators.dedup import simhash_buckets

    return simhash_buckets(_t(spark, sf_dir, "documents"), hash_strategy="md5")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (rows-only: approximate by design)."""
    from mpnsm_spark.operators.similarity import ivf_index, ivf_search, sample_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = sample_centroids(emb, n_centroids=16)
    # dim=64: assignment + scoring use the hoisted-norm path (per-centroid
    # and per-row norms computed once) — bit-identical scores
    # (similarity.py _dot_auto contract); fan_out parallelizes the corpus.
    index = ivf_index(emb, cents, dim=64)
    return ivf_search(
        index, cents, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, dim=64
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synth media → Arrow feature extraction.

    The decode stub is SQL-replayable: feature[i] = byte i of
    sha256(hex(payload)) / 255 (multimodal._fake_decode), so the DuckDB
    oracle reconstructs the synthetic table and the full feature vector
    exactly — a real value oracle despite the stubbed decoder. The feature
    vector is emitted as a fixed-format string so the driver's canonicalizer
    (pandas sort_values over every column) can hash the row — raw
    array<double> columns are unhashable driver-side.
    """
    from mpnsm_spark.operators.multimodal import extract_features, synthesize_media

    feats = extract_features(synthesize_media(spark, n=200))
    return feats.select(
        "media_id",
        "kind",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_csv"),
    )


# Exact replay of synthesize_media(n=200, seed=42) + the digest-derived
# feature stub: payload = sha256('42:i') bytes ×4; feature[j] = byte j of
# sha256(hex(payload)) / 255 — DuckDB's sha256 is VARCHAR-only, so both
# sides hash the lowercase-hex encoding. Verified bitwise vs the Python
# kernel for all 200 rows.
SQL_MEDIA_FEATURES = """
WITH base AS (
  SELECT i AS media_id,
         CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         sha256(concat('42:', CAST(i AS VARCHAR))) AS h
  FROM range(0, 200) t(i)
), payloads AS (
  SELECT media_id, kind, sha256(repeat(h, 4)) AS fh FROM base
)
SELECT media_id, kind,
  array_to_string(
    list_transform(range(0, 16), i ->
      printf('%.6f',
        (16 * (strpos('0123456789abcdef', substr(fh, CAST(2*i+1 AS INT), 1)) - 1)
           + (strpos('0123456789abcdef', substr(fh, CAST(2*i+2 AS INT), 1)) - 1)) / 255.0)),
    ',') AS features_csv
FROM payloads
"""


# ------------------------------------------------------- round-2 parity queries


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: centered 5-row rolling EXACT median per user (reference trend
    extraction, utils.py:207-217)."""
    from mpnsm_spark.functions.rolling import rolling_median

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "event_id", "ts", "value"
    )
    out = rolling_median(
        ev, window=5, value_col="value", order_col=["ts", "event_id"]
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"), "event_id", "roll_median"
    )


SQL_ROLLING_MEDIAN = """
SELECT user_id, event_id, quantile_cont(value, 0.5) OVER w AS roll_median
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
"""


def q_rolling_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: centered rolling max/min cap & floor + clamped value
    (reference model.py:240-261)."""
    from mpnsm_spark.functions.rolling import rolling_cap_floor

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "event_id", "ts", "value"
    )
    out = rolling_cap_floor(
        ev, window=7, value_col="value", order_col=["ts", "event_id"]
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "event_id",
        "cap",
        "floor",
        "value_clamped",
    )


SQL_ROLLING_CAPS = """
SELECT user_id, event_id,
       max(value) OVER w AS cap,
       min(value) OVER w AS floor,
       least(greatest(value, min(value) OVER w), max(value) OVER w) AS value_clamped
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
"""


def q_fourier_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sc-math: sin/cos daily-cycle seasonality features, k=1..2
    (reference utils.py:84-90), 6dp-rounded for cross-libm reproducibility."""
    from mpnsm_spark.functions.rolling import fourier_terms

    ev = _t(spark, sf_dir, "events")
    out = fourier_terms(ev, ts_col="ts", period_seconds=86400, order=2)
    return out.select("event_id", "sin_1", "cos_1", "sin_2", "cos_2")


SQL_FOURIER = """
SELECT event_id,
       round(sin(2 * pi() * 1 * CAST(floor(epoch(ts)) AS DOUBLE) / 86400.0), 6) + 0.0 AS sin_1,
       round(cos(2 * pi() * 1 * CAST(floor(epoch(ts)) AS DOUBLE) / 86400.0), 6) + 0.0 AS cos_1,
       round(sin(2 * pi() * 2 * CAST(floor(epoch(ts)) AS DOUBLE) / 86400.0), 6) + 0.0 AS sin_2,
       round(cos(2 * pi() * 2 * CAST(floor(epoch(ts)) AS DOUBLE) / 86400.0), 6) + 0.0 AS cos_2
FROM events
"""


def q_semi_join_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: restrict events to configured units via left_semi
    (reference deprecated/ts_manager.py:205-207). Units = users whose id is
    a customer key in the BUILDING segment."""
    from mpnsm_spark.operators.config import semi_join_units

    ev = _t(spark, sf_dir, "events")
    units = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    kept = semi_join_units(ev, units, ["user_id"])
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), _dsum("value").alias("value_sum")
    )


SQL_SEMI_JOIN = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
FROM events
WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY user_id
"""


def q_intervals_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty intervals (reference prophet/ts_uncertainty.py): LOCF
    one-step forecast, residual-quantile [q10, q90] intervals, per-user
    empirical coverage + mean width."""
    from mpnsm_spark.operators.uncertainty import residual_intervals

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    scored = (
        ev.withColumn("yhat", F.lag("value").over(w))
        .filter(F.col("yhat").isNotNull())
        .select(F.col("user_id").cast("string").alias("conv_id"),
                F.col("value").alias("y"), "yhat")
    )
    iv = residual_intervals(scored)
    # decimal-stable width mean (summation-order proof for the hash compare);
    # the engine-facing interval_coverage() uses plain avg.
    return iv.groupBy("conv_id").agg(
        F.avg(F.col("covered").cast("double")).alias("coverage"),
        (
            F.sum((F.col("yhat_hi") - F.col("yhat_lo")).cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_width"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "coverage",
        "mean_width",
        "n",
    )


SQL_INTERVALS = """
WITH scored AS (
  SELECT user_id, value AS y,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yhat
  FROM events QUALIFY yhat IS NOT NULL
), qs AS (
  SELECT user_id,
         quantile_cont(y - yhat, 0.1) AS q_lo,
         quantile_cont(y - yhat, 0.9) AS q_hi
  FROM scored GROUP BY user_id
), iv AS (
  SELECT s.user_id, s.y, s.yhat + q.q_lo AS lo, s.yhat + q.q_hi AS hi
  FROM scored s JOIN qs q USING (user_id)
)
SELECT user_id,
       avg(CAST(y >= lo AND y <= hi AS DOUBLE)) AS coverage,
       CAST(sum(CAST(hi - lo AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS mean_width,
       count(*) AS n
FROM iv GROUP BY user_id
"""


def q_hyperparam_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 + the search harness: per-user grid search of the last-w-mean
    forecaster (w ∈ 1,2,4,8) over 3 expanding CV folds scored by WMAPE;
    chosen param = cross-fold median. The WHOLE search (folds, fits, scores,
    argmin, median) is replayed by the SQL oracle."""
    from mpnsm_spark.functions.tuning import tune_per_series

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "event_id", "value"
    )
    out = tune_per_series(
        ev,
        param_grid=[1, 2, 4, 8],
        n_folds=3,
        horizon=10,
        jump=5,
        min_train=5,
        order_col=["ts", "event_id"],
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "chosen_param",
        "folds_used",
    )


SQL_HYPERPARAM = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), folds AS (
  SELECT DISTINCT user_id, n, f.fold, n - 10 - f.fold * 5 AS cutoff
  FROM ordered CROSS JOIN (SELECT unnest(range(3)) AS fold) f
  WHERE n - 10 - f.fold * 5 >= 5
), fits AS (
  SELECT f.user_id, f.fold, f.cutoff, p.w,
         CAST(sum(CAST(o.value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS yhat
  FROM folds f
  CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS w) p
  JOIN ordered o ON o.user_id = f.user_id
       AND o.rn > f.cutoff - p.w AND o.rn <= f.cutoff
  GROUP BY 1, 2, 3, 4
), scores AS (
  SELECT t.user_id, t.fold, t.w,
         CAST(sum(CAST(abs(o.value - t.yhat) AS DECIMAL(20,6))) AS DOUBLE)
           / CAST(sum(CAST(abs(o.value) AS DECIMAL(20,6))) AS DOUBLE) AS wmape
  FROM fits t JOIN ordered o ON o.user_id = t.user_id
       AND o.rn > t.cutoff AND o.rn <= t.cutoff + 10
  GROUP BY 1, 2, 3
), best AS (
  SELECT user_id, fold, w FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, fold
                                 ORDER BY wmape ASC, w ASC) AS rnk
    FROM scores
  ) WHERE rnk = 1
)
SELECT user_id,
       quantile_cont(CAST(w AS DOUBLE), 0.5) AS chosen_param,
       CAST(count(*) AS INT) AS folds_used
FROM best GROUP BY user_id
"""


def q_hyperparam_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8's heuristic-ladder corner: multiplicative ladder w ∈ 1,2,4,8,16
    with the reference's two-rung tolerance convergence rule (stop at the
    first rung that fails to improve WMAPE by min_better; max_worse aborts)
    and the penultimate-rung fold choice. The oracle replays the WHOLE walk:
    scores per rung, the stop position via a lag() window, the pre-stop rung,
    the cross-fold median."""
    from mpnsm_spark.functions.tuning import MetricSpec, make_ladder, tune_per_series, wmape

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "event_id", "value"
    )
    out = tune_per_series(
        ev,
        param_grid=make_ladder(1, 16, 2, "multiplicative"),
        metric_specs=[
            MetricSpec(wmape, higher_better=False, max_worse=0.02,
                       min_better=0.002, name="wmape")
        ],
        fold_choice="penultimate",
        n_folds=3,
        horizon=10,
        jump=5,
        min_train=5,
        order_col=["ts", "event_id"],
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "chosen_param",
        "folds_used",
    )


# The walk stops at the first rung k>=2 with NOT(s_k <= s_{k-1} - min_better)
# — for a single lower-better metric the reference's rule reduces to exactly
# this (an improving rung always continues; a non-improving rung converges
# whether or not it also breaches max_worse). Never-converging walks stop at
# the last rung; the fold's winner is the rung BEFORE the stop.
SQL_HYPERPARAM_LADDER = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), folds AS (
  SELECT DISTINCT user_id, n, f.fold, n - 10 - f.fold * 5 AS cutoff
  FROM ordered CROSS JOIN (SELECT unnest(range(3)) AS fold) f
  WHERE n - 10 - f.fold * 5 >= 5
), fits AS (
  SELECT f.user_id, f.fold, f.cutoff, p.w,
         CAST(sum(CAST(o.value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS yhat
  FROM folds f
  CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS w) p
  JOIN ordered o ON o.user_id = f.user_id
       AND o.rn > f.cutoff - p.w AND o.rn <= f.cutoff
  GROUP BY 1, 2, 3, 4
), scores AS (
  SELECT t.user_id, t.fold, t.w,
         CAST(sum(CAST(abs(o.value - t.yhat) AS DECIMAL(20,6))) AS DOUBLE)
           / CAST(sum(CAST(abs(o.value) AS DECIMAL(20,6))) AS DOUBLE) AS wmape
  FROM fits t JOIN ordered o ON o.user_id = t.user_id
       AND o.rn > t.cutoff AND o.rn <= t.cutoff + 10
  GROUP BY 1, 2, 3
), walk AS (
  SELECT user_id, fold, w, wmape,
         row_number() OVER (PARTITION BY user_id, fold ORDER BY w ASC) AS k,
         lag(wmape) OVER (PARTITION BY user_id, fold ORDER BY w ASC) AS prev
  FROM scores
), stops AS (
  SELECT user_id, fold,
         coalesce(
           min(CASE WHEN k >= 2 AND NOT (wmape <= prev - 0.002) THEN k END),
           max(k)
         ) AS stop_k
  FROM walk GROUP BY 1, 2
), chosen AS (
  SELECT w.user_id, w.fold, w.w
  FROM walk w JOIN stops s ON s.user_id = w.user_id AND s.fold = w.fold
  WHERE w.k = s.stop_k - 1
)
SELECT user_id,
       quantile_cont(CAST(w AS DOUBLE), 0.5) AS chosen_param,
       CAST(count(*) AS INT) AS folds_used
FROM chosen GROUP BY user_id
"""


def q_hierarchy_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation (reference deprecated/
    hierarchical_models.py BU/OLS/WLSS revisions) over a deterministic
    two-level forecast set: per-user base forecast = decimal-exact SUM of the
    user's values + step; independent total = global decimal sum x 1.5 +
    2*step. Sums (not means) keep every value an exact 6dp decimal that a
    double represents exactly, so the double->decimal casts inside the
    reconciliation aggregate identically across engines (a decimal-MEAN base
    hit one-ulp double->decimal rounding divergence at sf0.01). All three
    methods emitted; oracle replays the closed forms exactly."""
    from mpnsm_spark.operators.hierarchy import reconcile_forecasts

    dec_sum = F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
    ev = _t(spark, sf_dir, "events")
    steps = spark.range(1, 4).select(F.col("id").cast("int").alias("step"))
    bottom = (
        ev.groupBy("user_id")
        .agg(dec_sum.alias("m"))
        .crossJoin(F.broadcast(steps))
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            "step",
            (F.col("m") + F.col("step")).alias("yhat"),
        )
    )
    total = (
        ev.agg(dec_sum.alias("gs"))
        .crossJoin(F.broadcast(steps))
        .select(
            "step", (F.col("gs") * 1.5 + 2 * F.col("step")).alias("yhat_total")
        )
    )
    parts = []
    for m in ("bu", "ols", "wlss"):
        parts.append(
            reconcile_forecasts(bottom, total, method=m)
            .withColumn("method", F.lit(m))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "step",
        "method",
        "yhat",
        "yhat_rec",
        "yhat_total_rec",
    )


SQL_HIERARCHY = """
WITH bottom_base AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS m
  FROM events GROUP BY user_id
), steps AS (
  SELECT CAST(unnest([1, 2, 3]) AS INT) AS step
), bottom AS (
  SELECT b.user_id, s.step, b.m + s.step AS yhat
  FROM bottom_base b CROSS JOIN steps s
), total AS (
  SELECT s.step,
         (SELECT CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) FROM events)
           * 1.5 + 2 * s.step AS yhat_total
  FROM steps s
), agg AS (
  SELECT step, count(*) AS k,
         CAST(sum(CAST(yhat AS DECIMAL(20,6))) AS DOUBLE) AS s
  FROM bottom GROUP BY step
), joined AS (
  SELECT b.user_id, b.step, b.yhat, a.k, a.s, t.yhat_total,
         t.yhat_total - a.s AS d
  FROM bottom b JOIN agg a USING (step) JOIN total t USING (step)
), methods AS (
  SELECT 'bu' AS method, user_id, step, yhat,
         yhat AS yhat_rec, s AS yhat_total_rec
  FROM joined
  UNION ALL
  SELECT 'ols', user_id, step, yhat,
         yhat + d / (k + 1), s + k * (d / (k + 1))
  FROM joined
  UNION ALL
  SELECT 'wlss', user_id, step, yhat,
         yhat + d / (2 * k), s + k * (d / (2 * k))
  FROM joined
)
SELECT user_id, step, method, yhat, yhat_rec, yhat_total_rec FROM methods
"""


def _planted_corpus_spark(emb: DataFrame) -> DataFrame:
    """Corpus ∪ deterministic near-dup copies of vec_id<10 (v' = 0.9v+0.01)."""
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x * 0.9 + 0.01).alias("v"),
    )
    return base.unionByName(planted)


def q_signlsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH embedding near-dups: 8 deterministic hyperplanes (literal in
    both engines) bucket the corpus; exact rounded cosine ≥ 0.95 verifies.
    Near-dup pairs are planted (v' = 0.9v + 0.01) since the synthetic corpus
    is near-orthogonal."""
    from mpnsm_spark.operators.similarity import cosine_near_dup_pairs

    corpus = _planted_corpus_spark(_t(spark, sf_dir, "embeddings"))
    return cosine_near_dup_pairs(
        corpus, dim=64, threshold=0.95, n_planes=8, vec_col="v"
    )


def _sql_signlsh(n_planes: int = 8, threshold: float = 0.95) -> str:
    from mpnsm_spark.operators.similarity import _hyperplane

    planes = [_hyperplane(64, j) for j in range(n_planes)]
    sign_bits = " || ".join(
        "(CASE WHEN round(list_dot_product(v, ["
        + ", ".join(f"{x!r}" for x in p)
        + "]), 6) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    cos = _SQL_COS.format(a="a.v", b="b.v")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 0.9 + 0.01)
  FROM embeddings WHERE vec_id < 10
), tagged AS (
  SELECT vec_id, v, {sign_bits} AS bucket FROM corpus
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS score
FROM tagged a JOIN tagged b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {threshold}
"""


def q_stepwise_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stepwise autoregressive predict with cross-target feedback (reference
    forecast.py:435-469 + update_data :343-382): a 10-step walk per user
    where each step's target-A prediction feeds target-B's same step; the
    sequential loop runs inside the per-series kernel and the oracle replays
    it bitwise with a recursive CTE."""
    from pyspark.sql import types as T

    from mpnsm_spark.operators.forecast import stepwise_predict

    ev = _t(spark, sf_dir, "events")
    kschema = T.StructType([T.StructField("k", T.LongType())])
    base = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        "event_id",
        F.col("value").alias("a"),
        F.coalesce(
            F.from_json("props", kschema)["k"].cast("double"), F.lit(0.0)
        ).alias("b"),
    )
    out = stepwise_predict(
        base, horizon=10, order_col=["ts", "event_id"], a_col="a", b_col="b"
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"), "step", "yhat_a", "yhat_b"
    )


SQL_STEPWISE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, value,
         coalesce(CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS DOUBLE), 0.0) AS kv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), base AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS mean_a,
         max(CASE WHEN rn = n THEN value END) AS a0,
         max(CASE WHEN rn = n THEN kv END) AS b0
  FROM ordered GROUP BY user_id HAVING count(*) >= 3
), walk AS (
  SELECT user_id, mean_a, 0 AS step, a0 AS ya, b0 AS yb FROM base
  UNION ALL
  SELECT user_id, mean_a, step + 1,
         (ya + mean_a) * 0.5,
         yb * 0.7 + ((ya + mean_a) * 0.5) * 0.3
  FROM walk WHERE step < 10
)
SELECT user_id, CAST(step AS INT) AS step, ya AS yhat_a, yb AS yhat_b
FROM walk WHERE step >= 1
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pair → cluster resolution (min-id label propagation,
    large-star/small-star shape): a deterministic chain-pair graph over
    documents (doc d ∼ d+1 whenever d % 8 < 3 → components of diameter 3)
    resolved with fixed_iters=4 so the oracle replays the EXACT same four
    neighbor-min rounds as unrolled SQL CTEs; untouched docs come back as
    singleton keepers."""
    from mpnsm_spark.operators.dedup import resolve_duplicate_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        docs.filter(F.col("doc_id") % 8 < 3)
        .select(
            F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
        )
        .join(docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    )
    return resolve_duplicate_clusters(pairs, ids=docs, fixed_iters=4)


_ROUND_CC = """
l{i} AS (
  SELECT l.id, least(l.label, coalesce(m.nb, l.label)) AS label
  FROM l{p} l LEFT JOIN (
    SELECT e.src, min(x.label) AS nb
    FROM edges e JOIN l{p} x ON x.id = e.dst GROUP BY e.src
  ) m ON m.src = l.id
)"""

SQL_DUP_CLUSTERS = (
    """
WITH pairs AS (
  SELECT d.doc_id AS id_a, d.doc_id + 1 AS id_b
  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
  WHERE d.doc_id % 8 < 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), l0 AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
),"""
    + ",".join(_ROUND_CC.format(i=i, p=i - 1) for i in range(1, 5))
    + """
SELECT id AS doc_id, label AS cluster_id, id = label AS keep_flag FROM l4
UNION ALL
SELECT d.doc_id, d.doc_id AS cluster_id, TRUE AS keep_flag
FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM l0)
"""
)


def q_ols_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real per-series model's SQL-expressible core: fixed 3-basis OLS
    (intercept, t, hinge at floor(n/2)) fit per user by explicit Cramer's
    rule under the decimal contract (functions/model.py
    linear_hinge_forecaster), 5-step forecast. Integer Gram entries are
    exact in both engines; y cross-moments ride exact DECIMAL(20,6) sums;
    the 3×3 solve and prediction mirror the SQL's operation order verbatim;
    output rounded half-away-from-zero at 6dp (+0.0 canonicalizes -0.0)."""
    import numpy as np
    import pandas as pd

    from mpnsm_spark.functions.model import linear_hinge_forecaster
    from mpnsm_spark.operators.skew import apply_per_series

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "event_id", "value"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf["value"].to_numpy(np.float64)
        if len(y) < 8:
            return pd.DataFrame({"conv_id": [], "step": [], "yhat": []}).astype(
                {"step": "int32", "yhat": float}
            )
        preds = linear_hinge_forecaster(y, 5, 0.5)
        q = (
            np.where(
                preds >= 0,
                np.floor(preds * 1e6 + 0.5),
                np.ceil(preds * 1e6 - 0.5),
            )
            / 1e6
            + 0.0
        )
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "step": np.arange(1, 6, dtype=np.int32),
                "yhat": q,
            }
        )

    out = apply_per_series(
        ev, kernel, "conv_id string, step int, yhat double",
        order_col=["ts", "event_id"],
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"), "step", "yhat"
    )


SQL_OLS_FORECAST = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), kk AS (
  SELECT user_id, max(n) AS n, CAST(floor(max(n) * 0.5) AS BIGINT) AS k
  FROM ordered GROUP BY user_id HAVING max(n) >= 8
), mom AS (
  SELECT o.user_id, kk.n, kk.k,
         CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(o.t) AS DOUBLE) AS st,
         CAST(sum(o.t * o.t) AS DOUBLE) AS stt,
         CAST(sum(greatest(o.t - kk.k, 0)) AS DOUBLE) AS sh,
         CAST(sum(o.t * greatest(o.t - kk.k, 0)) AS DOUBLE) AS sth,
         CAST(sum(greatest(o.t - kk.k, 0) * greatest(o.t - kk.k, 0)) AS DOUBLE) AS shh,
         CAST(sum(CAST(o.value AS DECIMAL(20,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(o.value AS DECIMAL(20,6)) * o.t) AS DOUBLE) AS sty,
         CAST(sum(CAST(o.value AS DECIMAL(20,6)) * greatest(o.t - kk.k, 0)) AS DOUBLE) AS shy
  FROM ordered o JOIN kk ON kk.user_id = o.user_id
  GROUP BY o.user_id, kk.n, kk.k
), beta AS (
  SELECT user_id, n, k,
         (nn * (stt * shh - sth * sth) - st * (st * shh - sth * sh)
            + sh * (st * sth - stt * sh)) AS det,
         (sy * (stt * shh - sth * sth) - st * (sty * shh - sth * shy)
            + sh * (sty * sth - stt * shy)) AS n0,
         (nn * (sty * shh - sth * shy) - sy * (st * shh - sth * sh)
            + sh * (st * shy - sty * sh)) AS n1,
         (nn * (stt * shy - sty * sth) - st * (st * shy - sty * sh)
            + sy * (st * sth - stt * sh)) AS n2
  FROM mom
), preds AS (
  SELECT b.user_id, s.step,
         (n0 / det)
           + (n1 / det) * CAST(b.n + s.step - 1 AS DOUBLE)
           + (n2 / det) * greatest(CAST(b.n + s.step - 1 - b.k AS DOUBLE), 0.0)
           AS raw
  FROM beta b CROSS JOIN (SELECT unnest(range(1, 6)) AS step) s
)
SELECT user_id, CAST(step AS INT) AS step,
       CASE WHEN raw >= 0 THEN floor(raw * 1e6 + 0.5)
            ELSE ceil(raw * 1e6 - 0.5) END / 1e6 + 0.0 AS yhat
FROM preds
"""


def q_manager_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven manager end-to-end (reference one-call ergonomics,
    ``/root/reference/mpnsm/time_series/manager.py:20-39, 135-149``) as an
    EXACT driver row: a two-level declarative config — root entry horizon 5,
    cohort-'1' override horizon 3 with ``targets`` field-inherited from the
    root — resolves via broadcast config inheritance (operators/config.py),
    then ``run_manager`` executes each distinct resolved config as ONE
    kernel stage (resume + error lineage) with the SQL-replayable
    ``linear_hinge`` forecaster. The oracle replays unit resolution
    (``user_id % 3``), the Cramer's-rule fit under the decimal contract,
    and the per-cohort horizon; output rounded half-away-from-zero at 6dp."""
    import tempfile

    from pyspark.sql import Window

    from mpnsm_spark.plans.manager import run_manager
    from mpnsm_spark.plans.pipeline import PipelineConfig
    from mpnsm_spark.sources.tableio import TableIO

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    seq = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    df = ev.withColumn("seq", seq).withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(3)).cast("string")
    )
    config = [
        {
            "unit": {},
            "horizon": 5,
            "targets": [
                {"target_col": "value", "model": {"forecaster": "linear_hinge"}}
            ],
        },
        {"unit": {"cohort": "1"}, "horizon": 3},
    ]
    io = TableIO(tempfile.mkdtemp(prefix="mgr_row_"))
    # One-shot unnamed run into a throwaway dir: ephemeral mode skips the
    # snapshot/lineage/read-back round-trips (same kernels, same rows —
    # pipeline.py PipelineConfig.ephemeral).
    res = run_manager(
        spark, df, io, config, group_columns=["cohort", "user_id"],
        order_col="seq", cfg=PipelineConfig(ephemeral=True),
    )
    fc = res.forecasts(spark, io)
    yq = F.when(
        F.col("yhat") >= 0, F.floor(F.col("yhat") * 1e6 + F.lit(0.5))
    ).otherwise(F.ceil(F.col("yhat") * 1e6 - F.lit(0.5)))
    return fc.select(
        F.split("_unit_id", "\x1f").getItem(1).alias("user_id"),
        F.col("step").cast("int").alias("step"),
        (yq / 1e6 + F.lit(0.0)).alias("yhat"),
    )


SQL_MANAGER_FORECAST = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), kk AS (
  SELECT user_id, max(n) AS n, CAST(floor(max(n) * 0.5) AS BIGINT) AS k,
         CASE WHEN user_id % 3 = 1 THEN 3 ELSE 5 END AS horizon
  FROM ordered GROUP BY user_id HAVING max(n) >= 8
), mom AS (
  SELECT o.user_id, kk.n, kk.k, kk.horizon,
         CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(o.t) AS DOUBLE) AS st,
         CAST(sum(o.t * o.t) AS DOUBLE) AS stt,
         CAST(sum(greatest(o.t - kk.k, 0)) AS DOUBLE) AS sh,
         CAST(sum(o.t * greatest(o.t - kk.k, 0)) AS DOUBLE) AS sth,
         CAST(sum(greatest(o.t - kk.k, 0) * greatest(o.t - kk.k, 0)) AS DOUBLE) AS shh,
         CAST(sum(CAST(o.value AS DECIMAL(20,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(o.value AS DECIMAL(20,6)) * o.t) AS DOUBLE) AS sty,
         CAST(sum(CAST(o.value AS DECIMAL(20,6)) * greatest(o.t - kk.k, 0)) AS DOUBLE) AS shy
  FROM ordered o JOIN kk ON kk.user_id = o.user_id
  GROUP BY o.user_id, kk.n, kk.k, kk.horizon
), beta AS (
  SELECT user_id, n, k, horizon,
         (nn * (stt * shh - sth * sth) - st * (st * shh - sth * sh)
            + sh * (st * sth - stt * sh)) AS det,
         (sy * (stt * shh - sth * sth) - st * (sty * shh - sth * shy)
            + sh * (sty * sth - stt * shy)) AS n0,
         (nn * (sty * shh - sth * shy) - sy * (st * shh - sth * sh)
            + sh * (st * shy - sty * sh)) AS n1,
         (nn * (stt * shy - sty * sth) - st * (st * shy - sty * sh)
            + sy * (st * sth - stt * sh)) AS n2
  FROM mom
), preds AS (
  SELECT b.user_id, s.step,
         (n0 / det)
           + (n1 / det) * CAST(b.n + s.step - 1 AS DOUBLE)
           + (n2 / det) * greatest(CAST(b.n + s.step - 1 - b.k AS DOUBLE), 0.0)
           AS raw
  FROM beta b CROSS JOIN (SELECT unnest(range(1, 6)) AS step) s
  WHERE s.step <= b.horizon
)
SELECT CAST(user_id AS VARCHAR) AS user_id, CAST(step AS INT) AS step,
       CASE WHEN raw >= 0 THEN floor(raw * 1e6 + 0.5)
            ELSE ceil(raw * 1e6 - 0.5) END / 1e6 + 0.0 AS yhat
FROM preds
"""


def q_streaming_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the driver's EXACT gate: the events table
    replayed through a watermark-correct 1-hour windowed aggregation
    (``availableNow`` finite replay, append mode).
    Append mode only emits watermark-finalized windows, so a far-future
    sentinel row closes every real window; sentinel rows are filtered out.
    The sentinel rides in the SAME first micro-batch as the data (no
    watermark exists yet, so nothing can be late-dropped) and availableNow
    runs one final empty batch after the watermark advances — two batches
    total instead of three. The oracle is the batch SQL twin of the same
    aggregation: streaming/batch row-identity is the streaming module's core
    invariant (streaming/rollup_stream.py ``batch_equivalent``), and this
    row puts it under the value-hash gate. Engine-native extension: the
    reference is batch-only (SURVEY.md §2.9)."""
    import datetime as _dt
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="stream_row_", dir=shm)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    # Source files are HARD-LINKED (copy2 fallback across devices) instead of
    # re-written through a coalesce(1) Spark job: the old single-threaded
    # rewrite of the whole table was ~1/3 of this row's wall and moved every
    # byte once for nothing.
    ev_ntz = _t(spark, sf_dir, "events").select(*cols)
    ev_path = os.path.join(sf_dir, "events.parquet")
    files = (
        [ev_path]
        if os.path.isfile(ev_path)
        else sorted(glob.glob(os.path.join(ev_path, "*.parquet")))
    )
    if not files:
        # layout the flat glob can't see (partitioned dirs, foreign
        # suffixes): fall back to the Spark rewrite the old code used
        ev_ntz.coalesce(1).write.parquet(src)
        files = sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
    else:
        for i, f in enumerate(files):
            dst = os.path.join(src, f"data_{i:05d}.parquet")
            try:
                os.link(f, dst)
            except OSError:
                shutil.copy2(f, dst)
    # max(ts) from parquet footers — metadata-only, replaces a full Spark
    # aggregation job (same micros value the agg would return). Linking
    # above is complete for ALL files before this scan, so a stats-less
    # file only costs the Spark fallback, never a missing source file.
    mx = None
    for f in files:
        md = pq.read_metadata(f)
        ci = md.schema.names.index("ts")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mx = None
                break
            mx = st.max if mx is None or st.max > mx else mx
        else:
            continue
        mx = None
        break
    if mx is None:  # stats-less files: fall back to the Spark aggregation
        mx = ev_ntz.agg(F.max("ts")).collect()[0][0]
    if mx is None:  # no events: no window to close, nothing to emit
        shutil.rmtree(tmp, ignore_errors=True)
        uid, val = (ev_ntz.schema[c].dataType.simpleString() for c in ("user_id", "value"))
        return spark.createDataFrame(
            [],
            f"user_id {uid}, bucket_start timestamp_ntz, n_events bigint, "
            f"value_sum double, value_min {val}, value_max {val}, "
            f"first_value {val}, last_value {val}, value_avg double",
        )
    # Sentinel keeps the FILE schema (ts TIMESTAMP_NTZ); the instant math is
    # identical under the UTC-pinned session. Written via pyarrow directly —
    # one row, no Spark job.
    sch = pq.read_schema(files[0])
    sent = pa.table(
        {
            "user_id": [-1],
            "ts": [mx + _dt.timedelta(days=365)],
            "event_id": [-1],
            "event_type": ["__flush__"],
            "value": [0.0],
        },
        schema=pa.schema([sch.field(sch.get_field_index(c)) for c in cols]),
    )
    pq.write_table(sent, os.path.join(src, "zzz_sentinel.parquet"))

    # watermarks require TIMESTAMP (ltz); the files ship TIMESTAMP_NTZ. The
    # session is UTC-pinned, so the in-stream cast is instant-preserving; the
    # output casts bucket_start back so the schema matches the batch oracle.
    # State-store cost scales with (partitions × batches): size the stateful
    # shuffle to the state volume, not the core count — each partition pays a
    # store commit per micro-batch (restored after the query; on a real
    # cluster state partitions are sized to ~100MB-1GB of state each).
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(8, spark.sparkContext.defaultParallelism // 4)),
    )
    try:
        stream = (
            spark.readStream.schema(ev_ntz.schema)
            .option("maxFilesPerTrigger", len(files) + 1)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id", F.window("ts", "1 hour").alias("win"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(20,6)"))
                .cast("double")
                .alias("value_sum"),
                F.min("value").alias("value_min"),
                F.max("value").alias("value_max"),
                F.min_by("value", "event_id").alias("first_value"),
                F.max_by("value", "event_id").alias("last_value"),
            )
            .withColumn("value_avg", F.col("value_sum") / F.col("n_events"))
        )
        qname = f"stream_rollup_row_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            # explicit checkpoint on the same tmpfs dir: the default temp
            # checkpoint lands on the slow virtio /tmp and the state store
            # commits per partition per micro-batch
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    # The result lives in the memory-sink table; the staged source files and
    # checkpoint are dead weight now — remove them so repeated invocations
    # (bench passes) don't accumulate table copies on tmpfs.
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.sql(
        f"""SELECT user_id, CAST(win.start AS TIMESTAMP_NTZ) AS bucket_start,
                   n_events, value_sum, value_min, value_max, first_value,
                   last_value, value_avg
            FROM {qname} WHERE user_id >= 0"""
    )


SQL_STREAMING_ROLLUP_1H = """
SELECT user_id,
       date_trunc('hour', ts) AS bucket_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       min_by(value, event_id) AS first_value,
       max_by(value, event_id) AS last_value,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
FROM events
GROUP BY 1, 2
"""


def q_hyperparam_multimetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-metric convergence walk (reference CombinedMetric tolerances,
    metrics.py:301-380 + the :96-145 stop rule): the multiplicative ladder
    w ∈ 1..16 stops at the first rung where EITHER metric regresses past its
    max_worse OR NEITHER improves by its min_better; fold winner =
    penultimate rung, chooser = cross-fold median. Metrics: decimal-contract
    WMAPE and median-abs-pct (even-horizon midpoint = sum(middle two)/2,
    bitwise in both engines). Series uses value+1.0 so |y| > 0 at every SF."""
    from mpnsm_spark.functions.tuning import (
        MetricSpec,
        make_ladder,
        median_abs_pct,
        tune_per_series,
        wmape,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        "event_id",
        (F.col("value") + F.lit(1.0)).alias("value"),
    )
    out = tune_per_series(
        ev,
        param_grid=make_ladder(1, 16, 2, "multiplicative"),
        metric_specs=[
            MetricSpec(wmape, max_worse=0.02, min_better=0.002, name="wmape"),
            MetricSpec(median_abs_pct, max_worse=0.05, min_better=0.005,
                       name="median_abs_pct"),
        ],
        fold_choice="penultimate",
        n_folds=3,
        horizon=10,
        jump=5,
        min_train=5,
        order_col=["ts", "event_id"],
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "chosen_param",
        "folds_used",
    )


SQL_HYPERPARAM_MULTI = """
WITH ordered AS (
  SELECT user_id, value + 1.0 AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), folds AS (
  SELECT DISTINCT user_id, n, f.fold, n - 10 - f.fold * 5 AS cutoff
  FROM ordered CROSS JOIN (SELECT unnest(range(3)) AS fold) f
  WHERE n - 10 - f.fold * 5 >= 5
), fits AS (
  SELECT f.user_id, f.fold, f.cutoff, p.w,
         CAST(sum(CAST(o.value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS yhat
  FROM folds f
  CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS w) p
  JOIN ordered o ON o.user_id = f.user_id
       AND o.rn > f.cutoff - p.w AND o.rn <= f.cutoff
  GROUP BY 1, 2, 3, 4
), ratios AS (
  SELECT t.user_id, t.fold, t.w, o.value, t.yhat,
         abs(o.value - t.yhat) / abs(o.value) AS r,
         row_number() OVER (PARTITION BY t.user_id, t.fold, t.w
                            ORDER BY abs(o.value - t.yhat) / abs(o.value)) AS rr
  FROM fits t JOIN ordered o ON o.user_id = t.user_id
       AND o.rn > t.cutoff AND o.rn <= t.cutoff + 10
), scores AS (
  SELECT user_id, fold, w,
         CAST(sum(CAST(abs(value - yhat) AS DECIMAL(20,6))) AS DOUBLE)
           / CAST(sum(CAST(abs(value) AS DECIMAL(20,6))) AS DOUBLE) AS wmape,
         sum(CASE WHEN rr IN (5, 6) THEN r END) / 2 AS medap
  FROM ratios GROUP BY 1, 2, 3
), walk AS (
  SELECT user_id, fold, w, wmape, medap,
         row_number() OVER (PARTITION BY user_id, fold ORDER BY w ASC) AS k,
         lag(wmape) OVER (PARTITION BY user_id, fold ORDER BY w ASC) AS pw,
         lag(medap) OVER (PARTITION BY user_id, fold ORDER BY w ASC) AS pm
  FROM scores
), stops AS (
  SELECT user_id, fold,
         coalesce(
           min(CASE WHEN k >= 2 AND (
                 wmape > pw + 0.02 OR medap > pm + 0.05
                 OR (NOT (wmape <= pw - 0.002) AND NOT (medap <= pm - 0.005))
               ) THEN k END),
           max(k)
         ) AS stop_k
  FROM walk GROUP BY 1, 2
), chosen AS (
  SELECT w.user_id, w.fold, w.w
  FROM walk w JOIN stops s ON s.user_id = w.user_id AND s.fold = w.fold
  WHERE w.k = s.stop_k - 1
)
SELECT user_id,
       quantile_cont(CAST(w AS DOUBLE), 0.5) AS chosen_param,
       CAST(count(*) AS INT) AS folds_used
FROM chosen GROUP BY user_id
"""


# ----------------------------------------------- generated oracle SQL (LSH &c)


def _sql_minhash(num_hashes: int = 32, bands: int = 8, ngram: int = 3,
                 threshold: float = 0.5) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_strategy='md5'): identical
    shingling, per-shingle 32-bit md5-derived hashes, (a_j*h+b_j) mod P
    permutation minima, banding, candidate join and exact-Jaccard verify.
    All arithmetic stays below 2^38 so BIGINT semantics match Spark longs."""
    from mpnsm_spark.operators.dedup import MINHASH_P, _perm_a, _perm_b

    r = num_hashes // bands
    # first 8 hex chars of md5 -> int, nibble by nibble (no conv() in DuckDB)
    nib = " + ".join(
        f"(strpos('0123456789abcdef', substr(d, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    sig_elems = ",\n    ".join(
        f"list_min(list_transform(hs, h -> (h * {_perm_a(j)} + {_perm_b(j)}) % {MINHASH_P}))"
        for j in range(num_hashes)
    )
    return f"""
WITH norm AS (
  SELECT doc_id AS _id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), toks AS (
  SELECT _id, string_split(t, ' ') AS w FROM norm
), sh AS (
  SELECT _id, list_sort(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - {ngram - 1}, 1)),
           i -> array_to_string(list_slice(w, i, i + {ngram - 1}), ' ')))) AS shingles
  FROM toks
), shash AS (
  SELECT _id, shingles,
         list_transform(list_transform(shingles, s -> substr(md5(s), 1, 8)),
                        d -> {nib}) AS hs
  FROM sh
), sigs AS (
  SELECT _id, shingles, [{sig_elems}] AS sig FROM shash
), banded AS (
  SELECT _id, unnest(generate_series(0, {bands - 1})) AS band_id, sig FROM sigs
), bh AS (
  SELECT _id, band_id,
         md5(array_to_string(list_slice(sig, band_id*{r}+1, band_id*{r}+{r}), ',')) AS band_hash
  FROM banded
), cand AS (
  SELECT DISTINCT a._id AS id_a, b._id AS id_b
  FROM bh a JOIN bh b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a._id < b._id
), verified AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))) AS jaccard
  FROM cand c
  JOIN sigs sa ON sa._id = c.id_a
  JOIN sigs sb ON sb._id = c.id_b
)
SELECT id_a, id_b, CAST(jaccard AS DOUBLE) AS jaccard
FROM verified WHERE jaccard >= {threshold}
"""


def _sql_simhash(prefix_bits: int = 16) -> str:
    """DuckDB twin of simhash_buckets(hash_strategy='md5'): 64 bit-vote sums
    over per-token md5 hashes, folded back into a hex signature string."""
    votes = ",\n         ".join(
        f"2*sum(((strpos('0123456789abcdef', substr(h, {16 - j // 4}, 1)) - 1)"
        f" >> {j % 4}) & 1) - count(*) AS v{j}"
        for j in range(64)
    )
    nibbles = []
    for p in range(16):
        base = 4 * (15 - p)
        val = " + ".join(
            f"(CASE WHEN v{base + s} > 0 THEN {1 << s} ELSE 0 END)" for s in range(4)
        )
        nibbles.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    hexsig = "\n      || ".join(nibbles)
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS tk FROM norm
), th AS (
  SELECT doc_id, substr(md5(tk), 1, 16) AS h FROM tok
), votes AS (
  SELECT doc_id,
         {votes}
  FROM th GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
         {hexsig} AS simhash_hex
  FROM votes
)
SELECT doc_id, simhash_hex, substr(simhash_hex, 1, {prefix_bits // 4}) AS bucket FROM sigs
"""


_SQL_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)

SQL_IVF_TOPK = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id, embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)
), assign AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.centroid_id,
         {_SQL_COS.format(a="e.embedding::DOUBLE[]", b="c.cvec")} AS s
  FROM embeddings e CROSS JOIN cent c
), buckets AS (
  SELECT vec_id, v, centroid_id AS bucket FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn
    FROM assign
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS q_vec, centroid_id AS bucket FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn
    FROM assign WHERE vec_id < 5
  ) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         {_SQL_COS.format(a="p.q_vec", b="b.v")} AS score
  FROM buckets b JOIN probes p ON b.bucket = p.bucket
  WHERE b.vec_id <> p.query_id
)
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

def q_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with one Lloyd refinement iteration, fully SQL-replayable: the
    refined centroid means use floor(v * 2^20) integer sums (exact binary
    arithmetic — engine- and summation-order-independent), assignment and
    scoring use the same 6dp-rounded cosine as ivf_topk."""
    from mpnsm_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        refine_centroids,
        sample_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents0 = sample_centroids(emb, n_centroids=16)
    # dim=64 throughout: assignment/scoring cosines share the hoisted-norm
    # path (bit-identical, similarity.py _dot_auto contract). The refined
    # centroids (16 rows) are materialized ONCE: the index build and the
    # probe side otherwise each embed the full refine chain (sample →
    # assign → quantized means) in their broadcast subtrees — the before
    # plan carries 16 parquet scans of the same corpus.
    cents1 = refine_centroids(
        emb, cents0, n_iters=1, quantize_bits=20, dim=64
    ).localCheckpoint(eager=True)
    index = ivf_index(emb, cents1, dim=64)
    return ivf_search(
        index, cents1, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, dim=64
    )


# dim=64 is the embeddings table's fixed dimension (TESTDATA.md).
SQL_IVF_REFINED = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id, embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)
), assign0 AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.centroid_id,
         {_SQL_COS.format(a="e.embedding::DOUBLE[]", b="c.cvec")} AS s
  FROM embeddings e CROSS JOIN cent c
), buckets0 AS (
  SELECT vec_id, v, centroid_id AS bucket FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn
    FROM assign0
  ) WHERE rn = 1
), comp AS (
  SELECT b.bucket, idx.i AS pos,
         sum(CAST(floor(b.v[idx.i + 1] * 1048576.0) AS BIGINT)) AS su,
         count(*) AS n
  FROM buckets0 b CROSS JOIN (SELECT unnest(range(64)) AS i) idx
  GROUP BY 1, 2
), cent1 AS (
  SELECT c0.centroid_id,
         coalesce(m.centroid, c0.cvec) AS cvec
  FROM cent c0 LEFT JOIN (
    SELECT bucket AS centroid_id,
           list(CAST(su AS DOUBLE) / (n * 1048576.0) ORDER BY pos) AS centroid
    FROM comp GROUP BY bucket
  ) m USING (centroid_id)
), assign1 AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.centroid_id,
         {_SQL_COS.format(a="e.embedding::DOUBLE[]", b="c.cvec")} AS s
  FROM embeddings e CROSS JOIN cent1 c
), buckets1 AS (
  SELECT vec_id, v, centroid_id AS bucket FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn
    FROM assign1
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS q_vec, centroid_id AS bucket FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC) AS rn
    FROM assign1 WHERE vec_id < 5
  ) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         {_SQL_COS.format(a="p.q_vec", b="b.v")} AS score
  FROM buckets1 b JOIN probes p ON b.bucket = p.bucket
  WHERE b.vec_id <> p.query_id
)
SELECT query_id, rank, neighbor_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

SQL_CHANGEPOINTS = """
WITH RECURSIVE t1h AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, date_trunc('hour', ts) AS bucket_start,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS value_avg
  FROM events GROUP BY 1, 2
), ordered AS (
  SELECT conv_id, bucket_start, value_avg,
         row_number() OVER (PARTITION BY conv_id ORDER BY bucket_start) - 1 AS idx
  FROM t1h
), smoothed AS (
  SELECT conv_id, bucket_start, idx,
         CASE WHEN lag(value_avg) OVER o IS NULL AND lead(value_avg) OVER o IS NULL
                THEN NULL
              WHEN lag(value_avg) OVER o IS NULL
                THEN (value_avg + lead(value_avg) OVER o) / 2.0
              WHEN lead(value_avg) OVER o IS NULL
                THEN (lag(value_avg) OVER o + value_avg) / 2.0
              ELSE ((lag(value_avg) OVER o + value_avg) + lead(value_avg) OVER o) / 3.0
         END AS sm
  FROM ordered
  WINDOW o AS (PARTITION BY conv_id ORDER BY idx)
), scored AS (
  SELECT conv_id, bucket_start, idx,
         floor(abs((lead(sm) OVER o2 - 2*sm) + lag(sm) OVER o2) * 1000000.0 + 0.5)
           / 1000000.0 AS score
  FROM smoothed
  WINDOW o2 AS (PARTITION BY conv_id ORDER BY idx)
), cand AS (
  SELECT conv_id, idx, bucket_start, score,
         row_number() OVER (PARTITION BY conv_id ORDER BY score DESC, idx ASC) AS ord
  FROM scored WHERE score > 0
), walk AS (
  SELECT conv_id, 0 AS ord, CAST([] AS BIGINT[]) AS acc
  FROM (SELECT DISTINCT conv_id FROM cand)
  UNION ALL
  SELECT w.conv_id, w.ord + 1,
         CASE WHEN len(list_filter(w.acc, a -> abs(a - c.idx) < 3)) = 0
                   AND len(w.acc) < 5
              THEN list_append(w.acc, c.idx) ELSE w.acc END
  FROM walk w JOIN cand c ON c.conv_id = w.conv_id AND c.ord = w.ord + 1
  WHERE len(w.acc) < 5
), final AS (
  SELECT conv_id, acc FROM (
    SELECT conv_id, acc,
           row_number() OVER (PARTITION BY conv_id ORDER BY ord DESC) AS rn
    FROM walk
  ) WHERE rn = 1
), accepted AS (
  SELECT conv_id, unnest(acc) AS idx,
         CAST(unnest(generate_series(1, len(acc))) AS INT) AS rank
  FROM final
)
SELECT a.conv_id, s.bucket_start, s.score, a.rank
FROM accepted a JOIN scored s ON s.conv_id = a.conv_id AND s.idx = a.idx
"""


def q_embed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-generation seam (operators/embed.py): documents.text →
    16-dim feature-hashed vector via one mapInPandas pass (the real-encoder
    swap point sits behind strict=True). Exploded to (doc_id, slot, val) so
    the driver's value hash covers every component bitwise."""
    from mpnsm_spark.operators.embed import embed_text

    docs = _t(spark, sf_dir, "documents")
    emb = embed_text(docs, id_col="doc_id", text_col="text", dim=16)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("slot", "val")
    )


def _sql_embed_docs() -> str:
    from mpnsm_spark.operators.embed import sql_embed_cte

    return f"""
WITH {sql_embed_cte(dim=16)}
SELECT id AS doc_id, CAST(s.s - 1 AS INT) AS slot, embedding[s.s] AS val
FROM vecs CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS s) s
"""


def q_embed_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data near-dup chain from RAW TEXT: documents.text →
    hashed embeddings (operators/embed.py) → sign-LSH bucket join + exact
    rounded cosine ≥ 0.99 (operators/similarity.py) → min-id label
    propagation with fixed_iters=4 (operators/dedup.py) so the oracle
    replays the identical four neighbor-min rounds as unrolled CTEs.
    Output: every document with its duplicate-cluster id and keep flag."""
    from mpnsm_spark.operators.dedup import resolve_duplicate_clusters
    from mpnsm_spark.operators.embed import embed_text
    from mpnsm_spark.operators.similarity import cosine_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    emb = embed_text(docs, id_col="doc_id", text_col="text", dim=16)
    pairs = cosine_near_dup_pairs(
        emb, dim=16, threshold=0.99, n_planes=8,
        id_col="doc_id", vec_col="embedding",
    )
    return resolve_duplicate_clusters(
        pairs, ids=docs.select("doc_id"), fixed_iters=4
    )


def _sql_embed_clusters(n_planes: int = 8, threshold: float = 0.99) -> str:
    from mpnsm_spark.operators.embed import sql_embed_cte
    from mpnsm_spark.operators.similarity import _hyperplane

    planes = [_hyperplane(16, j) for j in range(n_planes)]
    sign_bits = " || ".join(
        "(CASE WHEN round(list_dot_product(embedding, ["
        + ", ".join(f"{x!r}" for x in p)
        + "]), 6) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    cos = _SQL_COS.format(a="a.embedding", b="b.embedding")
    return (
        f"""
WITH {sql_embed_cte(dim=16)}, tagged AS (
  SELECT id, embedding, {sign_bits} AS bucket FROM vecs
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM tagged a JOIN tagged b ON a.bucket = b.bucket AND a.id < b.id
  WHERE {cos} >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), l0 AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
),"""
        + ",".join(_ROUND_CC.format(i=i, p=i - 1) for i in range(1, 5))
        + """
SELECT id AS doc_id, label AS cluster_id, id = label AS keep_flag FROM l4
UNION ALL
SELECT d.doc_id, d.doc_id AS cluster_id, TRUE AS keep_flag
FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM l0)
"""
    )


# ------------------------------------------------------------------ registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tier_1m_rollup": q_tier_1m_rollup,
        "tier_1h_cascade": q_tier_1h_cascade,
        "gapfill_locf_1h": q_gapfill_locf_1h,
        "dedupe_keep_last": q_dedupe_keep_last,
        "topk_per_user": q_topk_per_user,
        "sessionize": q_sessionize,
        "rolling_smooth": q_rolling_smooth,
        "second_diff": q_second_diff,
        "anti_join_resume": q_anti_join_resume,
        "enrich_join": q_enrich_join,
        "wmape": q_wmape,
        "mode_event_type": q_mode_event_type,
        "quantiles": q_quantiles,
        "tpch_q1": q_tpch_q1,
        "gorilla_roundtrip_1m": q_gorilla_roundtrip_1m,
        "json_props": q_json_props,
        "rolling_sum_minperiods": q_rolling_sum_minperiods,
        "iqr_outliers": q_iqr_outliers,
        "outlier_dummies": q_outlier_dummies,
        "tail_trim": q_tail_trim,
        "cv_expanding": q_cv_expanding,
        "config_inherit": q_config_inherit,
        "changepoints": q_changepoints,
        "dedup_exact": q_dedup_exact,
        "doc_quality": q_doc_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_buckets": q_simhash_buckets,
        "ivf_topk": q_ivf_topk,
        "ivf_refined_topk": q_ivf_refined_topk,
        "media_features": q_media_features,
        "rolling_median": q_rolling_median,
        "rolling_caps": q_rolling_caps,
        "fourier_terms": q_fourier_terms,
        "semi_join_units": q_semi_join_units,
        "intervals_coverage": q_intervals_coverage,
        "hyperparam_cv": q_hyperparam_cv,
        "hyperparam_ladder": q_hyperparam_ladder,
        "hierarchy_reconcile": q_hierarchy_reconcile,
        "signlsh_near_dups": q_signlsh_near_dups,
        "stepwise_predict": q_stepwise_predict,
        "dup_clusters": q_dup_clusters,
        "ols_forecast": q_ols_forecast,
        "manager_forecast": q_manager_forecast,
        "streaming_rollup_1h": q_streaming_rollup_1h,
        "hyperparam_multimetric": q_hyperparam_multimetric,
        "embed_docs": q_embed_docs,
        "embed_near_dup_clusters": q_embed_near_dup_clusters,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tier_1m_rollup": SQL_TIER_1M,
        "tier_1h_cascade": SQL_TIER_1H,
        "gapfill_locf_1h": SQL_GAPFILL_1H,
        "dedupe_keep_last": SQL_DEDUPE,
        "topk_per_user": SQL_TOPK,
        "sessionize": SQL_SESSIONIZE,
        "rolling_smooth": SQL_ROLLING,
        "second_diff": SQL_SECOND_DIFF,
        "anti_join_resume": SQL_ANTI_JOIN,
        "enrich_join": SQL_ENRICH,
        "wmape": SQL_WMAPE,
        "mode_event_type": SQL_MODE,
        "quantiles": SQL_QUANTILES,
        "tpch_q1": SQL_TPCH_Q1,
        "gorilla_roundtrip_1m": SQL_GORILLA_1M,
        "json_props": SQL_JSON_PROPS,
        "rolling_sum_minperiods": SQL_ROLLING_MINP,
        "iqr_outliers": SQL_IQR,
        "outlier_dummies": SQL_OUTLIER_DUMMIES,
        "tail_trim": SQL_TAIL_TRIM,
        "cv_expanding": SQL_CV,
        "config_inherit": SQL_CONFIG,
        "changepoints": SQL_CHANGEPOINTS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "doc_quality": SQL_DOC_QUALITY,
        "lang_id": SQL_LANG_ID,
        "fingerprint": SQL_FINGERPRINT,
        "ann_cosine_topk": SQL_ANN_TOPK,
        "minhash_near_dups": _sql_minhash(),
        "simhash_buckets": _sql_simhash(),
        "ivf_topk": SQL_IVF_TOPK,
        "ivf_refined_topk": SQL_IVF_REFINED,
        "media_features": SQL_MEDIA_FEATURES,
        "rolling_median": SQL_ROLLING_MEDIAN,
        "rolling_caps": SQL_ROLLING_CAPS,
        "fourier_terms": SQL_FOURIER,
        "semi_join_units": SQL_SEMI_JOIN,
        "intervals_coverage": SQL_INTERVALS,
        "hyperparam_cv": SQL_HYPERPARAM,
        "hyperparam_ladder": SQL_HYPERPARAM_LADDER,
        "hierarchy_reconcile": SQL_HIERARCHY,
        "signlsh_near_dups": _sql_signlsh(),
        "stepwise_predict": SQL_STEPWISE,
        "dup_clusters": SQL_DUP_CLUSTERS,
        "ols_forecast": SQL_OLS_FORECAST,
        "manager_forecast": SQL_MANAGER_FORECAST,
        "streaming_rollup_1h": SQL_STREAMING_ROLLUP_1H,
        "hyperparam_multimetric": SQL_HYPERPARAM_MULTI,
        "embed_docs": _sql_embed_docs(),
        "embed_near_dup_clusters": _sql_embed_clusters(),
    }
