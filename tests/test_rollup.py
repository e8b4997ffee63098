"""Tier rollup correctness vs the pandas oracle + tier-consistency invariants."""

import pytest

from mpnsm_spark.operators.rollup import (
    distinct_tool_vocab,
    merge_partials,
    rollup_raw,
    rollup_tiers,
)

from .oracle_pandas import compare_frames, rollup_pandas

FLOATS = ("value_sum", "value_min", "value_max", "value_avg", "first_value", "last_value")
KEYS = ["conv_id", "bucket_start"]


@pytest.fixture(scope="module")
def raw_pdf(transcripts):
    return transcripts.toPandas()


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_rollup_matches_pandas_oracle(transcripts, raw_pdf, tier):
    actual = rollup_raw(transcripts, tier).toPandas()
    expected = rollup_pandas(raw_pdf, tier)
    compare_frames(actual, expected, KEYS, float_cols=FLOATS)


def test_cascade_equals_direct_rollup(transcripts):
    """1h/1d cascaded from 1m must equal rolling up raw directly."""
    tiers = rollup_tiers(transcripts)
    for tier in ("1h", "1d"):
        direct = rollup_raw(transcripts, tier).toPandas()
        casc = tiers[tier].toPandas()
        compare_frames(casc, direct, KEYS, float_cols=FLOATS)


def test_merge_partials_recovers_full_rollup(transcripts):
    """Splitting a conversation by time range and re-merging partial tier rows
    must reproduce the unsplit rollup (hot-key split safety, SURVEY.md §4)."""
    from pyspark.sql import functions as F

    # Split raw rows into two arbitrary halves by a hash, roll up each half
    # under ONE dictionary, union the partials, re-merge.
    vocab = distinct_tool_vocab(transcripts)
    left = transcripts.filter(F.xxhash64("conv_id", "turn_idx") % 2 == 0)
    right = transcripts.filter(F.xxhash64("conv_id", "turn_idx") % 2 != 0)
    partials = rollup_raw(left, "1h", vocab).unionByName(rollup_raw(right, "1h", vocab))
    merged = merge_partials(partials, vocab).toPandas()
    full = rollup_raw(transcripts, "1h").toPandas()
    compare_frames(merged, full, KEYS, float_cols=FLOATS)


def test_rollup_raw_unknown_role_and_tool(spark):
    """A role outside schema.ROLES counts in no n_* column and a tool missing
    from the passed dictionary sets no bit: the result equals the pandas
    reference with the unknown tools blanked."""
    import pandas as pd

    from mpnsm_spark.generator import with_value
    from mpnsm_spark.schema import TRANSCRIPT_SCHEMA

    pdf = pd.DataFrame(
        [
            ("c1", 0, "critic", "aa", "exec", "2025-01-01 10:00:01"),
            ("c1", 1, "user", "b", "fetch", "2025-01-01 10:00:30"),
            ("c1", 2, "moderator", "ccc", "fetch", "2025-01-01 10:01:05"),
            ("c2", 0, "assistant", "dddd", None, "2025-01-01 10:00:40"),
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    raw = with_value(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
    got = rollup_raw(raw, "1m", ["exec"]).toPandas()

    ref = raw.toPandas()
    ref.loc[ref["tool"] != "exec", "tool"] = None
    compare_frames(got, rollup_pandas(ref, "1m"), KEYS, float_cols=FLOATS)
    row = got.set_index("conv_id").loc["c1"].sort_values("bucket_start")
    unknown = row.iloc[1]  # the 10:01 bucket holds only the unknown role/tool
    assert [unknown[f"n_{r}"] for r in ("user", "assistant", "system", "tool")] == [0] * 4
    assert unknown["tools_mask"] == 0 and list(unknown["tools"]) == []
    assert list(row["tools_mask"]) == [1, 0]


def test_rollup_order_insensitive(spark, transcripts):
    """Shuffled input rows produce identical tier rows (stable turn ordering)."""
    from pyspark.sql import functions as F

    reshuffled = transcripts.orderBy(F.xxhash64("text"))
    a = rollup_raw(transcripts, "1m").toPandas()
    b = rollup_raw(reshuffled, "1m").toPandas()
    compare_frames(a, b, KEYS, float_cols=FLOATS)


def test_generator_deterministic(spark):
    from mpnsm_spark.generator import generate_transcripts

    a = generate_transcripts(spark, n_convs=10, n_turns=300, seed=7).toPandas()
    b = generate_transcripts(spark, n_convs=10, n_turns=300, seed=7).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert a.equals(b)
    # turn_idx dense 0..n-1 per conversation
    for conv, g in a.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))
    # ts non-decreasing in turn order
    for conv, g in a.groupby("conv_id"):
        assert g.sort_values("turn_idx")["ts"].is_monotonic_increasing


def test_generator_skew(spark):
    """Zipf sizing: the hottest conversation is much larger than the median."""
    from mpnsm_spark.generator import generate_transcripts

    df = generate_transcripts(spark, n_convs=30, n_turns=3000, seed=42)
    sizes = df.groupBy("conv_id").count().toPandas()["count"]
    assert sizes.max() > 5 * sizes.median()
