"""Continuous-aggregate tier rollups: raw turns → 1m → 1h → 1d.

Reference analog: grouped transform aggregation per cycle/unit
(``/root/reference/mpnsm/time_series/utils.py:93-129``) and frequency-tier
parameterization (``mpnsm/time_series/__init__.py:3-11``) — re-expressed as
Spark hash aggregations (partial + final, whole-stage codegen; no UDFs).

Every tier column is *associative*: higher tiers are exact re-aggregations of
the tier below (1h from 1m, 1d from 1h), and the identical ``_combine``
expressions re-merge partial aggregates of a hot conversation split by time
range (SURVEY.md §4 skew note). This is what makes the cascade and the skew
split safe at 10^12-turn scale: the expensive raw scan happens exactly once,
for the 1m tier.

Scale notes (100 TB):

- The raw→1m groupBy shuffles on (conv_id, bucket) — high cardinality,
  naturally balanced; map-side partial aggregation collapses duplicate-minute
  bursts before the shuffle. The cascades shuffle the (much smaller) tier
  tables only — or nothing at all when the input is already hash-partitioned
  by ``conv_id`` (subset-of-grouping-keys rule), which is how the pipeline
  runs the whole cascade behind ONE exchange.
- **Every aggregate is fixed-width** so the whole tier path stays in
  Tungsten ``HashAggregateExec`` (codegen, UnsafeRow hash map, graceful
  spill). The distinct-tool set is a ``bit_or`` BITMASK over a small
  dictionary (``tool_vocab``), not ``collect_set``: object-hash aggregation
  falls back to sort-based execution past 128 map entries and allocates a
  set buffer per group — measured 2-3× slower and GC-bound at 5M+ groups.
  The human-readable ``tools`` array is decoded from the mask by a pure
  projection.
- **One tier row, one dictionary.** :func:`turn_aggregates` is the only
  turn→tier aggregate (batch :func:`rollup_encoded` / :func:`rollup_raw` and
  the streaming 1m window share it) and :func:`encode_role_tool` the only
  place tool names become bit positions, and the only size check. Every
  step after encoding REQUIRES the tool dictionary (``cascade``,
  ``merge_partials``, the streaming rollups): masks encoded under two
  dictionaries OR into a mask that names the wrong tools. Only
  :func:`rollup_raw` computes one (one scan) when it is omitted.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from mpnsm_spark import TIER_PARENT, TIER_TRUNC
from mpnsm_spark.schema import ROLES

MAX_TOOL_VOCAB = 62  # bitmask bits in a signed long, minus sign-bit headroom


def distinct_tool_vocab(df: DataFrame, tool_col: str = "tool") -> list[str]:
    """Sorted distinct non-null tool names — the bitmask dictionary.

    One column-pruned scan with map-side partial distinct; the low-cardinality
    combiner reduces each task to vocab size before the (tiny) shuffle.
    """
    rows = (
        df.select(tool_col).where(F.col(tool_col).isNotNull()).distinct().collect()
    )
    return sorted(r[0] for r in rows)


def encode_role_tool(
    df: DataFrame, role_vocab: Sequence[str], tool_vocab: list[str]
) -> DataFrame:
    """role/tool strings → int codes (-1 = null/unknown) so every downstream
    aggregation buffer is fixed-width (pure codegen HashAggregate).

    The ONLY place tool names become bit positions: ``tool_id`` is the tool's
    index in ``tool_vocab``, and the tier aggregate sets bit ``tool_id`` of
    ``tools_mask``. Spark's ``shiftleft`` wraps past bit 63, so a dictionary
    larger than :data:`MAX_TOOL_VOCAB` fails here, before any row is
    aggregated, instead of aliasing two tools onto one bit."""
    if len(tool_vocab) > MAX_TOOL_VOCAB:
        raise ValueError(
            f"tool vocabulary {len(tool_vocab)} exceeds {MAX_TOOL_VOCAB} bitmask "
            "slots — shard the mask into multiple longs or dictionary-page it"
        )

    def code(col: Column, vocab: Sequence[str]) -> Column:
        expr = F.when(col.isNull(), F.lit(-1))
        for i, v in enumerate(vocab):
            expr = expr.when(col == v, F.lit(i))
        return expr.otherwise(F.lit(-1)).cast("int")

    return (
        df.withColumn("role_id", code(F.col("role"), role_vocab))
        .withColumn("tool_id", code(F.col("tool"), tool_vocab))
        .drop("role", "tool")
    )


def tools_from_mask(mask: Column, tool_vocab: list[str]) -> Column:
    """Decode a bitmask back to the sorted tool-name array (pure projection).

    Bit ``i`` means ``tool_vocab[i]`` AS GIVEN — the encoder assigns tool ids
    by vocab list position, and with append-only cross-run vocabs
    (pipeline.reconcile_tool_vocab) the list is NOT globally sorted; only the
    decoded output array is sorted for stable presentation."""
    slots = [
        F.when(mask.bitwiseAND(F.lit(1 << i).cast("long")) != 0, F.lit(v))
        for i, v in enumerate(tool_vocab)
    ] or [F.lit(None).cast("string")]
    return F.array_sort(F.array_compact(F.array(*slots)))


TIER_COLUMNS = [
    "conv_id",
    "bucket_start",
    "turn_count",
    "first_turn_idx",
    "last_turn_idx",
    "n_user",
    "n_assistant",
    "n_system",
    "n_tool",
    "tools",
    "distinct_tools",
    "value_sum",
    "value_min",
    "value_max",
    "value_avg",
    "first_value",
    "last_value",
    "tools_mask",
]


# What the pipeline STORES/CACHES: `tools` (array<string>) and
# `distinct_tools` are pure projections of `tools_mask` + the vocab, so
# persisting them only bloats every tier write/cache (the array column is the
# single widest tier field at ~17M rows per 20M turns). `decode_tier` /
# `read_tier` reconstruct them losslessly on read.
TIER_COLUMNS_STORED = [c for c in TIER_COLUMNS if c not in ("tools", "distinct_tools")]


def decode_tier(df: DataFrame, tool_vocab: list[str]) -> DataFrame:
    """Reconstruct the derived tools/distinct_tools columns from the mask."""
    return df.withColumns(
        {
            "tools": tools_from_mask(F.col("tools_mask"), tool_vocab),
            "distinct_tools": F.bit_count("tools_mask").cast("int"),
        }
    ).select(*TIER_COLUMNS, *[c for c in df.columns if c not in TIER_COLUMNS])


def turn_aggregates(role_vocab: Sequence[str]) -> list[Column]:
    """The turn→tier aggregates over encoded turns (``role_id``/``tool_id``,
    see :func:`encode_role_tool`) — the ONE definition of a tier row, grouped
    by a ``date_trunc`` bucket in batch and by a tumbling window in streaming.

    Every expression is int/long/double, so partial+final aggregation is pure
    whole-stage-codegen HashAggregate with zero string comparisons per row.
    First/last bind to ``turn_idx`` (the stable per-row order key, SURVEY.md
    O1) via min_by/max_by, never to arrival order."""
    ridx = {r: i for i, r in enumerate(role_vocab)}

    def role_count(role: str) -> Column:
        return F.sum(
            F.when(F.col("role_id") == ridx.get(role, -2), 1).otherwise(0)
        ).alias(f"n_{role}")

    mask = F.when(
        F.col("tool_id") >= 0,
        F.expr("shiftleft(CAST(1 AS BIGINT), tool_id)"),
    ).otherwise(F.lit(0).cast("long"))
    return [
        F.count(F.lit(1)).alias("turn_count"),
        F.min("turn_idx").alias("first_turn_idx"),
        F.max("turn_idx").alias("last_turn_idx"),
        role_count("user"),
        role_count("assistant"),
        role_count("system"),
        role_count("tool"),
        F.bit_or(mask).alias("tools_mask"),
        F.sum("value").alias("value_sum"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.min_by("value", "turn_idx").alias("first_value"),
        F.max_by("value", "turn_idx").alias("last_value"),
    ]


def _finish_tier(
    grouped: DataFrame, tool_vocab: list[str], decode_tools: bool = True
) -> DataFrame:
    """Aggregated tier rows (``conv_id``, ``bucket_start`` + aggregates) →
    the tier table: ``value_avg``, plus the decoded tool columns unless
    ``decode_tools=False`` (the stored, mask-only schema)."""
    out = grouped.withColumn(
        "value_avg", F.col("value_sum") / F.col("turn_count")
    )
    if not decode_tools:
        return out.select(*TIER_COLUMNS_STORED)
    return decode_tier(out, tool_vocab)


def rollup_raw(
    df: DataFrame, tier: str = "1m", tool_vocab: list[str] | None = None
) -> DataFrame:
    """Aggregate raw turns into a tier table.

    ``df`` must have (conv_id, turn_idx, role, tool, ts, value). Ordering of
    the input is irrelevant: first/last semantics bind to ``turn_idx``, so
    the shuffled generator output aggregates identically. Roles are encoded
    against ``schema.ROLES``; a role outside it counts in no ``n_*`` column.

    ``tool_vocab``: bitmask dictionary (sorted distinct tools). Computed
    with one tiny job when omitted; pass it explicitly when several rollups
    must share one dictionary (cascades, partial re-merges), so their masks
    mean the same tools. A tool missing from it sets no bit.
    """
    if tool_vocab is None:
        tool_vocab = distinct_tool_vocab(df)
    encoded = encode_role_tool(df, ROLES, tool_vocab)
    return rollup_encoded(encoded, tier, ROLES, tool_vocab)


def rollup_encoded(
    norm: DataFrame,
    tier: str,
    role_vocab: Sequence[str],
    tool_vocab: list[str],
    decode_tools: bool = True,
) -> DataFrame:
    """Tier rollup of dictionary-encoded turns (:func:`encode_role_tool`):
    :func:`turn_aggregates` grouped by (conv_id, ``date_trunc`` bucket)."""
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("ts")).alias("bucket_start")
    grouped = norm.groupBy(F.col("conv_id"), bucket).agg(*turn_aggregates(role_vocab))
    return _finish_tier(grouped, tool_vocab, decode_tools)


def _combine(grouped: GroupedData) -> DataFrame:
    """Associative combine of tier rows — used by cascade, skew re-merge and
    the streaming cascade. The distinct-tool union is ``bit_or`` of masks
    (fixed-width); ``value_avg`` and the tool names are re-derived by
    ``_finish_tier``."""
    return grouped.agg(
        F.sum("turn_count").alias("turn_count"),
        F.min("first_turn_idx").alias("first_turn_idx"),
        F.max("last_turn_idx").alias("last_turn_idx"),
        F.sum("n_user").alias("n_user"),
        F.sum("n_assistant").alias("n_assistant"),
        F.sum("n_system").alias("n_system"),
        F.sum("n_tool").alias("n_tool"),
        F.bit_or("tools_mask").alias("tools_mask"),
        F.sum("value_sum").alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
        F.min_by("first_value", "first_turn_idx").alias("first_value"),
        F.max_by("last_value", "last_turn_idx").alias("last_value"),
    )


def _recombine(tier_df: DataFrame, bucket: Column, tool_vocab: list[str]) -> DataFrame:
    """Combine ``tier_df`` rows per (conv_id, ``bucket``), keeping its schema
    (decoded tool columns only when the input carries them)."""
    out = _combine(tier_df.groupBy(F.col("conv_id"), bucket))
    return _finish_tier(out, tool_vocab, "tools" in tier_df.columns).select(
        *tier_df.columns
    )


def cascade(tier_df: DataFrame, to_tier: str, tool_vocab: list[str]) -> DataFrame:
    """Re-aggregate a finer tier into ``to_tier`` (1m→1h, 1h→1d).

    Exactly consistent with aggregating raw data directly (tier-consistency
    invariant, FIXTURES.md §2) because every column is associative.
    ``tool_vocab`` must be the dictionary ``tier_df``'s masks were encoded
    under.
    """
    assert to_tier in TIER_PARENT, f"no cascade parent defined for {to_tier}"
    bucket = F.date_trunc(TIER_TRUNC[to_tier], F.col("bucket_start")).alias(
        "bucket_start"
    )
    return _recombine(tier_df, bucket, tool_vocab)


def merge_partials(partial_df: DataFrame, tool_vocab: list[str]) -> DataFrame:
    """Re-merge partial tier rows for the same (conv_id, bucket_start).

    Used after hot-conversation time-range splitting: partial aggregates from
    the sub-splits are combined with the same associative expressions. Every
    partial must have been rolled up under the one ``tool_vocab`` passed here
    — masks from different dictionaries cannot be OR-ed.
    """
    return _recombine(partial_df, F.col("bucket_start"), tool_vocab)


def rollup_tiers(raw_df: DataFrame) -> dict[str, DataFrame]:
    """Full cascade: raw → {'1m','1h','1d'} tier DataFrames (lazy)."""
    vocab = distinct_tool_vocab(raw_df)
    t1m = rollup_raw(raw_df, "1m", vocab)
    t1h = cascade(t1m, "1h", vocab)
    t1d = cascade(t1h, "1d", vocab)
    return {"1m": t1m, "1h": t1h, "1d": t1d}
