"""Streaming stateful LOCF gap-fill — ``applyInPandasWithState``.

Batch gap-fill (operators/gapfill.py) needs the *next* anchor to close an
interval, so a streaming engine can only fill a gap once the following tier
window arrives. This operator keeps exactly that state per conversation —
the last seen (bucket_start, value) — and, as finalized tier windows stream
in, emits the LOCF rows for every bucket strictly between the previous and
the new anchor, then the anchor itself (reference gap-fill semantics,
``/root/reference/mpnsm/time_series/utils.py`` LOCF path, under streaming
arrival).

Consistency contract (tested): for a finite replay of tier windows arriving
in per-conversation event-time order, the streamed output equals the batch
:func:`~mpnsm_spark.operators.gapfill.gapfill_anchored` rows on
``(conv_id, bucket_start, is_gap, value_locf)``. ``value_linear`` is
intentionally absent — it requires lookahead that streaming cannot have
before the next anchor; a consumer needing interpolation runs the batch
operator over the closed windows.

Semantics at the edges:

- first window of a conversation: emitted as an anchor, no fill (nothing to
  fill from);
- late/duplicate windows (``bucket_start <=`` the last state anchor): passed
  through as non-gap rows WITHOUT touching state — data is never dropped,
  monotone state is never corrupted (the upstream append-mode rollup emits
  each window once, so this is the crash-replay path, where the reader's
  keep-last dedupe removes the duplicates);
- idle conversations: pass ``state_ttl_ms`` on continuous deployments to
  expire idle state (ProcessingTimeTimeout) — state size then stays O(active
  conversations), the property that makes this viable at 10^12 turns. The
  default is NoTimeout because timeout processing re-triggers no-data
  micro-batches, which keeps finite ``availableNow`` replays (tests,
  backfills) from ever terminating.

Scale shape: the grouped-map state store shuffles on ``conv_id`` — the same
single-exchange key as the whole tier path — and each group's work is O(new
windows + emitted gap rows); the pandas kernel touches only that
conversation's delta, never history (history lives in the 3-column state).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mpnsm_spark import TIER_SECONDS
from mpnsm_spark.functions.arrowcfg import init_python_worker

GAPFILL_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("is_gap", T.BooleanType(), False),
        T.StructField("value_locf", T.DoubleType(), True),
    ]
)

# (last anchor's epoch-seconds, last anchor's value) per conversation.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_epoch", T.LongType(), True),
        T.StructField("last_value", T.DoubleType(), True),
    ]
)


def streaming_gapfill_locf(
    tier_stream: DataFrame,
    tier: str = "1h",
    value_col: str = "value_avg",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming LOCF over finalized tier windows.

    ``tier_stream`` is a streaming DataFrame with at least (conv_id,
    bucket_start, ``value_col``) — e.g. the append-mode output of
    ``streaming_rollup_1m`` cascaded to the target tier, whose watermark
    guarantees each window arrives exactly once and (per conversation) in
    event-time order.
    """
    step = TIER_SECONDS[tier]

    def fill(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        init_python_worker()
        if state.hasTimedOut:
            state.remove()
            return
        last_epoch: Any
        last_value: Any
        last_epoch, last_value = state.get if state.exists else (None, None)
        conv = key[0]
        out: dict[str, list] = {
            "conv_id": [],
            "bucket_start": [],
            "is_gap": [],
            "value_locf": [],
        }

        def emit(epoch: int, gap: bool, val: float) -> None:
            out["conv_id"].append(conv)
            out["bucket_start"].append(pd.Timestamp(epoch, unit="s"))
            out["is_gap"].append(gap)
            out["value_locf"].append(val)

        # Concatenate ALL Arrow chunks before sorting: chunks of one group
        # arrive in arbitrary order, so sorting each independently lets a
        # later chunk carry earlier epochs that the LOCF walk would then
        # misclassify as late pass-throughs and skip gap emission for
        # (ADVICE r3). Group deltas per micro-batch are small, so one concat
        # is bounded memory.
        frames = list(pdfs)
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            pdf = pdf.sort_values("bucket_start")
            epochs = (
                pdf["bucket_start"].astype("datetime64[s]").astype("int64").to_numpy()
            )
            vals = pdf[value_col].to_numpy(dtype=float)
            for e, v in zip(epochs, vals):
                e = int(e)
                if last_epoch is not None and e <= last_epoch:
                    # late/replayed window: pass through, state untouched
                    emit(e, False, float(v))
                    continue
                if last_epoch is not None:
                    for g in range(last_epoch + step, e, step):
                        emit(g, True, float(last_value))
                emit(e, False, float(v))
                last_epoch, last_value = e, float(v)
        if last_epoch is not None:
            state.update((int(last_epoch), float(last_value)))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
        if out["conv_id"]:
            yield pd.DataFrame(out)

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return tier_stream.groupBy("conv_id").applyInPandasWithState(
        fill, GAPFILL_STREAM_SCHEMA, STATE_SCHEMA, "append", timeout
    )


def run_gapfill_stream_to_memory(
    spark,
    tier_stream: DataFrame,
    tier: str = "1h",
    value_col: str = "value_avg",
    query_name: str = "gapfill_stream",
) -> DataFrame:
    """Drive a finite tier-window source through the stateful gap-fill and
    return the materialized rows (test/verification harness)."""
    out = streaming_gapfill_locf(tier_stream, tier=tier, value_col=value_col)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")
