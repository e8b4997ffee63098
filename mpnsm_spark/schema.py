"""Canonical schemas.

The transcript schema is the authoritative input shape (BASELINE.json
``input_hint``): ``(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)``. Tier/gap-fill/chunk/lineage schemas follow
FIXTURES.md; every tier column is chosen to be *associative* so higher tiers
and hot-key partial re-merges are exact re-aggregations (SURVEY.md §7.6).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ROLES = ("user", "assistant", "system", "tool")

TIER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("turn_count", T.LongType(), False),
        T.StructField("first_turn_idx", T.IntegerType(), True),
        T.StructField("last_turn_idx", T.IntegerType(), True),
        T.StructField("n_user", T.LongType(), False),
        T.StructField("n_assistant", T.LongType(), False),
        T.StructField("n_system", T.LongType(), False),
        T.StructField("n_tool", T.LongType(), False),
        T.StructField("tools", T.ArrayType(T.StringType()), True),
        T.StructField("distinct_tools", T.IntegerType(), False),
        T.StructField("value_sum", T.DoubleType(), True),
        T.StructField("value_min", T.DoubleType(), True),
        T.StructField("value_max", T.DoubleType(), True),
        T.StructField("value_avg", T.DoubleType(), True),
        T.StructField("first_value", T.DoubleType(), True),
        T.StructField("last_value", T.DoubleType(), True),
        # bitmask over the run's sorted tool vocabulary (fixed-width distinct-
        # set aggregation; `tools` above is its decoded presentation)
        T.StructField("tools_mask", T.LongType(), False),
    ]
)

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("range_start", T.TimestampType(), False),
        T.StructField("range_end", T.TimestampType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("value_blob", T.BinaryType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType(), False),
        T.StructField("output_rows", T.LongType(), False),
        T.StructField("encode_bytes", T.LongType(), False),
        T.StructField("wall_seconds", T.DoubleType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("error_class", T.StringType(), True),
        T.StructField("n_errors", T.LongType(), False),
    ]
)
