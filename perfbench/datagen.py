"""Seeded inputs. The same seed gives the same rows; the code under
measurement sees only these rows, never the seed.

- ``transcript_table``: the transcript table ``(conv_id, turn_idx, role,
  text, tool, ts)`` with Zipf conversation sizes, built with numpy so set-up
  runs no Spark job for it; the row count depends only on the size
  arguments. ``write_transcripts`` writes it sorted by ``ts`` into several
  parquet files, so file-level retention has files to drop, adopt and
  rewrite.
- ``write_battery_tables``: the star-schema tables the ``__spark_entry__``
  rows read (``events``, ``documents``, ``embeddings``, ``customer``,
  ``nation``, ``region``), shaped like the sf0.001 test data: values with two
  decimals, increasing microsecond timestamps, unit-norm float32 embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Inside the generated time range: input files wholly before it are dropped,
# the file that straddles it is rewritten, later files are adopted.
RETENTION_CUTOFF = "2025-01-16 00:00:00"
TRANSCRIPT_FILES = 8
EPOCH_START = np.datetime64("2025-01-01T00:00:00", "s")
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["search", "exec", "browse"])


def transcript_table(n_turns: int, n_convs: int, seed: int) -> pa.Table:
    """Conversations start over 30 days; turns are 1-120 s apart, with ~2%
    of gaps over 2 hours and ~0.5% over 2 days. Roles mostly alternate user
    and assistant, with system and tool turns mixed in; tool turns name one
    of three tools."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_convs + 1) ** 1.1
    sizes = np.maximum(1, (weights / weights.sum() * n_turns).astype(np.int64))
    sizes[0] += n_turns - sizes.sum()
    first = np.cumsum(sizes) - sizes
    conv = np.repeat(np.arange(n_convs), sizes)
    turn = np.arange(n_turns) - np.repeat(first, sizes)

    u = rng.random(n_turns)
    gaps = np.where(u < 0.005, 2 * 86400 + 17, np.where(u < 0.02, 2 * 3600 + 5,
                                                         rng.integers(1, 121, n_turns)))
    gaps[first] = 0
    elapsed = np.cumsum(gaps)
    elapsed -= np.repeat(elapsed[first], sizes)
    start = rng.integers(0, 86400 * 30, n_convs)
    ts = EPOCH_START + (np.repeat(start, sizes) + elapsed).astype("timedelta64[s]")

    r = rng.random(n_turns)
    role = np.where(r < 1 / 11, 2, np.where(r < 1 / 11 + 1 / 13, 3, turn % 2))
    tool = np.where(role == 3, _TOOLS[rng.integers(0, 3, n_turns)], None)
    tails = rng.integers(0, 180, n_turns)
    conv_ids = [f"conv{c:06d}" for c in conv]
    text = [f"{c}:{t}:" + "x" * k for c, t, k in zip(conv_ids, turn, tails)]
    return pa.table({
        "conv_id": pa.array(conv_ids),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(_ROLES[role]),
        "text": pa.array(text),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
    })


def write_transcripts(path: str, n_turns: int, n_convs: int, seed: int) -> pa.Table:
    """Writes the table sorted by ``ts``, split into ``TRANSCRIPT_FILES``
    files of equal row count, and returns it."""
    table = transcript_table(n_turns, n_convs, seed).sort_by("ts")
    os.makedirs(path)
    step = -(-len(table) // TRANSCRIPT_FILES)
    for i in range(TRANSCRIPT_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return table


_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value column agg vector dup"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_battery_tables(path: str, seed: int) -> None:
    """Row counts match the sf0.001 test data (TESTDATA.md)."""
    n_events, n_docs, n_vecs, n_customers = 1000, 500, 500, 150
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))

    # events: one stream over 30 days, strictly increasing timestamps
    start = dt.datetime(2024, 1, 1)
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // n_events, size=n_events)
    ts = np.datetime64(start, "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(60.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }))

    texts = [
        " ".join(rng.choice(_VOCAB, size=int(rng.integers(8, 90))))
        for _ in range(n_docs)
    ]
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: ten label clusters, unit norm
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = 0.5 * centers[labels] + rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_customers), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_customers)),
    }))
