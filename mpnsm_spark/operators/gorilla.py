"""Gorilla-style time-series compression, numpy-vectorized, Arrow-UDF hosted.

Encodes a tier's (bucket_start, value) stream per (conv_id, tier, chunk) into
two binary blobs (FIXTURES.md §4):

- ``ts_blob``   — timestamp delta-of-delta coding (Gorilla §4.1.1, Pelkonen et
  al., VLDB 2015): prefix classes '0' (dod=0), '10'+9b, '110'+12b, '1110'+16b,
  '1111'+64b over zigzag(dod);
- ``value_blob`` — XOR float coding (Gorilla §4.1.2): '0' for xor==0, else
  '1' + 5-bit leading-zero count + 6-bit meaningful-length + meaningful bits.

Deliberate divergence from the paper: the value coder is *stateless* (each
non-zero XOR stores its own leading/length window instead of reusing the
previous window). The paper's stateful window creates a sequential dependency
per element; the stateless variant vectorizes fully in numpy — the whole
encode is O(70) numpy passes regardless of chunk length, no per-row Python —
at a cost of ~11 bits per *changed* value. Round-trip is bitwise exact
(including NaN/±0.0, since we operate on raw uint64 views).

Reference analog: the opaque per-series model blob sink/source
(``/root/reference/mpnsm/time_series/model.py:518-552``,
``manager.py:213-220``) — per-key binary artifacts produced inside the
per-series kernel; here the kernel is a grouped-map pandas UDF
(SURVEY.md §2.10 F4).

Scale notes (100 TB): chunking is by fixed time range
(``chunk_id = bucket_epoch // (points_per_chunk * tier_seconds)``), so group
size entering ``applyInPandas`` is *bounded by construction* — a hot
conversation becomes many chunks, never one giant group. That is the skew
strategy for the UDF stage (AQE cannot split applyInPandas groups;
SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpnsm_spark import TIER_SECONDS
from mpnsm_spark.schema import CHUNK_SCHEMA

_U64 = np.uint64
_ONE = _U64(1)

# ---------------------------------------------------------------- bit helpers


def _floor_log2(x: np.ndarray) -> np.ndarray:
    """Vectorized floor(log2(x)) for uint64 x>0 (binary search, 6 passes)."""
    r = np.zeros(x.shape, np.int64)
    cur = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = cur >= (_ONE << _U64(s))
        r[m] += s
        cur[m] >>= _U64(s)
    return r


def _clz64(x: np.ndarray) -> np.ndarray:
    return 63 - _floor_log2(x)


def _ctz64(x: np.ndarray) -> np.ndarray:
    low = x & (~x + _ONE)
    return _floor_log2(low)


def _pack_codes(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Concatenate variable-length MSB-first codes into a byte string.

    ``codes[i]`` carries ``lengths[i]`` (0..64) significant low bits. Fully
    vectorized O(total_bits): expand per-bit element indices with np.repeat,
    shift, mask, packbits — no Python loop at all.
    """
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    if total == 0:
        return b""
    elem = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
    k = np.arange(total) - np.repeat(starts, lengths)
    shift = (lengths[elem] - 1 - k).astype(np.uint64)
    bits = ((codes[elem] >> shift) & _ONE).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.int64).view(np.uint64)


# ------------------------------------------------------------- ts encode/decode

# (prefix, prefix_bits, payload_bits); class chosen by zigzag magnitude.
_TS_CLASSES = ((0b10, 2, 9), (0b110, 3, 12), (0b1110, 4, 16))


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 epoch values. Layout: 8B first ts (big
    endian, signed) then the dod bitstream for elements 1..n-1 with implicit
    delta_0 = 0."""
    ts = np.asarray(ts, np.int64)
    n = len(ts)
    head = int(ts[0]).to_bytes(8, "big", signed=True) if n else b""
    if n <= 1:
        return head
    deltas = np.diff(ts)
    dods = np.diff(np.concatenate(([np.int64(0)], deltas)))
    z = _zigzag(dods)

    codes = np.zeros((len(z), 2), np.uint64)
    lens = np.zeros((len(z), 2), np.int64)
    done = z == 0  # class '0': 1 bit
    codes[done, 0] = 0
    lens[done, 0] = 1
    for prefix, pbits, vbits in _TS_CLASSES:
        m = (~done) & (z < (_ONE << _U64(vbits)))
        codes[m, 0] = (_U64(prefix) << _U64(vbits)) | z[m]
        lens[m, 0] = pbits + vbits
        done |= m
    rest = ~done  # class '1111' + 64 raw bits (two entries)
    codes[rest, 0] = 0b1111
    lens[rest, 0] = 4
    codes[rest, 1] = z[rest]
    lens[rest, 1] = 64
    return head + _pack_codes(codes.ravel(), lens.ravel())


def _extract_bits(body: bytes, pos: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """Vectorized variable-length bit-field gather: for each i, the
    ``nbits[i]``-bit (1..64) big-endian field starting at bit ``pos[i]`` of
    ``body``: a precomputed 64-bit big-endian window at every byte offset,
    shifted by the field's bit offset — one numpy pass over all fields."""
    b = np.concatenate([np.frombuffer(body, np.uint8), np.zeros(16, np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(b, 8).copy().view(">u8").ravel()
    q = (pos >> 3).astype(np.int64)
    r = (pos & 7).astype(np.uint64)
    w = win[q].astype(np.uint64)
    fill = b[q + 8].astype(np.uint64) >> (np.uint64(8) - r)  # r==0 -> >>8 -> 0
    w = np.where(r > 0, (w << r) | fill, w)
    return w >> (np.uint64(64) - nbits.astype(np.uint64))


def decode_timestamps(blob: bytes, n: int) -> np.ndarray:
    """Two-pass vectorized decode: a light Python scan classifies each token
    from ONE peeked window (4 bits) and tracks bit positions — the only
    inherently sequential part of a prefix-coded stream — then payload
    extraction, zigzag inversion, and the dod→delta→ts double prefix-sum all
    run as numpy passes. Bit-identical to the scalar bit-reader decoder kept
    as its test twin in ``tests/gorilla_scalar.py`` (pinned by
    ``tests/test_gorilla.py``)."""
    if n == 0:
        return np.empty(0, np.int64)
    first = int.from_bytes(blob[:8], "big", signed=True)
    if n == 1:
        return np.array([first], np.int64)
    body = blob[8:]
    b = np.concatenate([np.frombuffer(body, np.uint8), np.zeros(16, np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(b, 8).copy().view(">u8").ravel().tolist()
    tail = b.tolist()
    mask = (1 << 64) - 1
    idxs: list[int] = []
    poss: list[int] = []
    lens: list[int] = []
    pos = 0
    for i in range(n - 1):
        q, r = pos >> 3, pos & 7
        w = win[q]
        if r:
            w = ((w << r) & mask) | (tail[q + 8] >> (8 - r))
        c = w >> 60  # top 4 bits classify every prefix class
        if c < 8:  # '0…' : dod == 0
            pos += 1
            continue
        if c < 12:  # '10…' + 9
            off, vbits = 2, 9
        elif c < 14:  # '110…' + 12
            off, vbits = 3, 12
        elif c == 14:  # '1110' + 16
            off, vbits = 4, 16
        else:  # '1111' + 64
            off, vbits = 4, 64
        idxs.append(i)
        poss.append(pos + off)
        lens.append(vbits)
        pos += off + vbits
    dod = np.zeros(n - 1, np.int64)
    if idxs:
        z = _extract_bits(body, np.array(poss, np.int64), np.array(lens, np.int64))
        dod[np.array(idxs, np.int64)] = (z >> _ONE).astype(np.int64) ^ -(
            (z & _ONE).astype(np.int64)
        )
    out = np.empty(n, np.int64)
    out[0] = first
    out[1:] = first + np.cumsum(np.cumsum(dod))
    return out


# ---------------------------------------------------------- value encode/decode


def encode_values(vals: np.ndarray) -> bytes:
    """XOR-encode float64 values. Layout: 8B first value (raw bits, big
    endian) then the XOR bitstream for elements 1..n-1."""
    bits = np.ascontiguousarray(np.asarray(vals, np.float64)).view(np.uint64)
    n = len(bits)
    head = int(bits[0]).to_bytes(8, "big") if n else b""
    if n <= 1:
        return head
    xor = bits[1:] ^ bits[:-1]
    nz = xor != 0

    codes = np.zeros((len(xor), 2), np.uint64)
    lens = np.zeros((len(xor), 2), np.int64)
    lens[~nz, 0] = 1  # '0'
    if nz.any():
        x = xor[nz]
        lead = np.minimum(_clz64(x), 31)
        trail = _ctz64(x)
        mlen = 64 - lead - trail  # ≥1; ≤33+31 bounded by clamp logic
        # control '1' + lead(5) + (mlen-1)(6)
        codes[nz, 0] = (
            (_ONE << _U64(11))
            | (lead.astype(np.uint64) << _U64(6))
            | (mlen - 1).astype(np.uint64)
        )
        lens[nz, 0] = 12
        codes[nz, 1] = x >> trail.astype(np.uint64)
        lens[nz, 1] = mlen
    return head + _pack_codes(codes.ravel(), lens.ravel())


def decode_values(blob: bytes, n: int) -> np.ndarray:
    """Two-pass vectorized decode of the stateless XOR stream. Pass 1 is a
    light Python scan — ONE peeked 12-bit window per element classifies
    control + header and advances the bit cursor (the sequential part). Pass
    2 is numpy: gather all payloads (:func:`_extract_bits`), left-align them,
    and reconstruct the value chain with ``bitwise_xor.accumulate`` — the XOR
    chain is a prefix-scan, so no per-element Python survives. Bit-identical
    to the scalar bit-reader decoder kept as its test twin in
    ``tests/gorilla_scalar.py`` (pinned by ``tests/test_gorilla.py``)."""
    if n == 0:
        return np.empty(0, np.float64)
    first = int.from_bytes(blob[:8], "big")
    if n == 1:
        return np.array([first], np.uint64).view(np.float64)
    body = blob[8:]
    b = np.concatenate([np.frombuffer(body, np.uint8), np.zeros(16, np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(b, 8).copy().view(">u8").ravel().tolist()
    tail = b.tolist()
    mask = (1 << 64) - 1
    idxs: list[int] = []
    poss: list[int] = []
    leads: list[int] = []
    mlens: list[int] = []
    pos = 0
    for i in range(n - 1):
        q, r = pos >> 3, pos & 7
        w = win[q]
        if r:
            w = ((w << r) & mask) | (tail[q + 8] >> (8 - r))
        c = w >> 52  # control(1) + lead(5) + (mlen-1)(6) in one peek
        if c < 2048:  # control '0': xor == 0
            pos += 1
            continue
        mlen = (c & 63) + 1
        idxs.append(i)
        poss.append(pos + 12)
        leads.append((c >> 6) & 31)
        mlens.append(mlen)
        pos += 12 + mlen
    xors = np.zeros(n, np.uint64)
    xors[0] = first
    if idxs:
        ml = np.array(mlens, np.int64)
        payload = _extract_bits(body, np.array(poss, np.int64), ml)
        shift = (64 - np.array(leads, np.int64) - ml).astype(np.uint64)
        xors[np.array(idxs, np.int64) + 1] = payload << shift
    return np.bitwise_xor.accumulate(xors).view(np.float64)


# ---------------------------------------------------------------- Spark wiring


def _pack_grouped(
    codes2: np.ndarray,
    lens2: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    heads: bytes,
) -> list[bytes]:
    """Per-group blobs from per-row (n,2) code/length arrays in ONE global
    packbits pass: each group is padded with an explicit zero-bit entry to a
    byte boundary, so the packed stream can simply be byte-SLICED per group —
    bit-identical to packing each group separately (np.packbits zero-pads
    the tail, and our pads are zero bits at byte-aligned positions).
    ``heads`` is the concatenated 8-byte per-group header block."""
    bits = lens2.sum(axis=1)
    cum = np.concatenate(([0], np.cumsum(bits)))
    total = cum[ends] - cum[starts]
    pad = (-total) % 8
    ins = ends * 2
    flat_codes = np.insert(codes2.reshape(-1), ins, np.uint64(0))
    flat_lens = np.insert(lens2.reshape(-1), ins, pad)
    packed = _pack_codes(flat_codes, flat_lens)
    nbytes = (total + pad) // 8
    boffs = np.concatenate(([0], np.cumsum(nbytes)))
    return [
        heads[8 * i : 8 * i + 8] + packed[boffs[i] : boffs[i + 1]]
        for i in range(len(starts))
    ]


def _encode_arrays(
    ts_all: np.ndarray, vals_all: np.ndarray, changed: np.ndarray, span: int
) -> tuple[np.ndarray, np.ndarray, list, list]:
    """Numeric encode core over already-extracted arrays.

    ``ts_all``: int64 epoch seconds; ``vals_all``: float64; ``changed``:
    sorted indices where a new (conv, chunk) group begins (excluding 0).
    Returns (starts, ends, ts_blobs, value_blobs). Vectorized ACROSS groups:
    delta-of-delta / XOR field extraction runs once over the whole batch
    (group boundaries handled with masks), and the variable-length bit
    packing is one global pass with per-group byte alignment
    (``_pack_grouped``). Python work per chunk is two byte-slice
    concatenations. Blobs are bit-identical to :func:`encode_timestamps` /
    :func:`encode_values` (pinned by
    tests/test_gorilla.py::test_encode_frame_matches_per_group).
    """
    n = len(ts_all)
    starts = np.concatenate(([0], changed))
    ends = np.concatenate((changed, [n]))
    is_start = np.zeros(n, bool)
    is_start[starts] = True
    enc = ~is_start
    prev_is_start = np.zeros(n, bool)
    prev_is_start[1:] = is_start[:-1]

    # ---- timestamp stream: dod with implicit delta_0 = 0 at group starts
    delta = np.zeros(n, np.int64)
    delta[1:] = ts_all[1:] - ts_all[:-1]
    prev_delta = np.zeros(n, np.int64)
    prev_delta[1:] = delta[:-1]
    dod = np.where(prev_is_start, delta, delta - prev_delta)
    dod[is_start] = 0
    z = _zigzag(dod)
    t_codes = np.zeros((n, 2), np.uint64)
    t_lens = np.zeros((n, 2), np.int64)
    done = z == 0
    t_lens[enc & done, 0] = 1
    for prefix, pbits, vbits in _TS_CLASSES:
        m = enc & ~done & (z < (_ONE << _U64(vbits)))
        t_codes[m, 0] = (_U64(prefix) << _U64(vbits)) | z[m]
        t_lens[m, 0] = pbits + vbits
        done |= m
    rest = enc & ~done
    t_codes[rest, 0] = 0b1111
    t_lens[rest, 0] = 4
    t_codes[rest, 1] = z[rest]
    t_lens[rest, 1] = 64
    ts_blobs = _pack_grouped(
        t_codes, t_lens, starts, ends, ts_all[starts].astype(">i8").tobytes()
    )

    # ---- value stream: XOR float coding (stateless windows)
    bits = vals_all.view(np.uint64)
    xor = np.zeros(n, np.uint64)
    xor[1:] = bits[1:] ^ bits[:-1]
    xor[is_start] = 0
    v_codes = np.zeros((n, 2), np.uint64)
    v_lens = np.zeros((n, 2), np.int64)
    nz = enc & (xor != 0)
    v_lens[enc & (xor == 0), 0] = 1
    if nz.any():
        x = xor[nz]
        lead = np.minimum(_clz64(x), 31)
        trail = _ctz64(x)
        mlen = 64 - lead - trail
        v_codes[nz, 0] = (
            (_ONE << _U64(11))
            | (lead.astype(np.uint64) << _U64(6))
            | (mlen - 1).astype(np.uint64)
        )
        v_lens[nz, 0] = 12
        v_codes[nz, 1] = x >> trail.astype(np.uint64)
        v_lens[nz, 1] = mlen
    value_blobs = _pack_grouped(
        v_codes, v_lens, starts, ends, bits[starts].astype(">u8").tobytes()
    )
    return starts, ends, ts_blobs, value_blobs


def _encode_frame(pdf: pd.DataFrame, tier: str, span: int) -> pd.DataFrame:
    """Encode a sorted (conv_id, bucket_start) pandas frame into chunk rows
    (pandas wrapper around :func:`_encode_arrays`; the pipeline hot path is
    the Arrow-native :func:`encode_tier_chunks` which never materializes a
    pandas frame)."""
    ts_all = (
        pdf["bucket_start"].astype("datetime64[ns]").astype("int64") // 10**9
    ).to_numpy()
    vals_all = np.ascontiguousarray(pdf["_v"].to_numpy(np.float64))
    convs = pdf["conv_id"].to_numpy()
    chunk_ids = ts_all // span
    changed = (
        np.flatnonzero((convs[1:] != convs[:-1]) | (chunk_ids[1:] != chunk_ids[:-1]))
        + 1
    )
    starts, ends, ts_blobs, value_blobs = _encode_arrays(
        ts_all, vals_all, changed, span
    )
    out = pd.DataFrame(
        {
            "conv_id": convs[starts],
            "chunk_id": chunk_ids[starts],
            "range_start": pd.to_datetime(ts_all[starts], unit="s"),
            "range_end": pd.to_datetime(ts_all[ends - 1], unit="s"),
            "n_points": (ends - starts).astype(np.int64),
            "ts_blob": ts_blobs,
            "value_blob": value_blobs,
        }
    )
    out.insert(1, "tier", tier)
    return out


def encode_tier_chunks(
    tier_df: DataFrame,
    tier: str,
    value_col: str = "value_avg",
    points_per_chunk: int = 4096,
    num_partitions: int | None = None,
    assume_clustered: bool = False,
) -> DataFrame:
    """Tier table → Gorilla chunk table via partition-wise Arrow streaming.

    Chunk boundaries are fixed time ranges (``chunk_id = epoch // span``), so a
    chunk holds ≤ points_per_chunk points by construction — a hot conversation
    becomes many chunks, never one giant group (skew-safe by design).

    Execution: (optionally) repartition by conv_id + in-partition sort, then
    ONE ``mapInArrow`` pass per partition — Python is invoked per Arrow batch
    (~64k rows), not per conversation, and the batch is consumed as raw Arrow
    buffers: timestamps/values view as numpy, group boundaries come from a
    vectorized Arrow string comparison, and the output conv_id column is a
    ``take`` of the input Arrow column. The previous mapInPandas version
    spent ~10x the encode's own CPU boxing every conv_id string into a
    PyObject during Arrow→pandas conversion (measured: a do-nothing pandas
    passthrough cost more than the whole encode at 16 cores). A conversation/
    chunk spanning an Arrow batch boundary is carried over inside the
    iterator, so results are identical regardless of batch size.
    """
    span = TIER_SECONDS[tier] * points_per_chunk

    def encode_stream(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()

        def secs(b: "pa.RecordBatch") -> np.ndarray:
            # timestamp[us] → int64 epoch seconds
            return b.column(1).cast(pa.int64()).to_numpy(
                zero_copy_only=False
            ) // 1_000_000

        def encode_batch(b: "pa.RecordBatch", ts_s: np.ndarray):
            n = b.num_rows
            conv = b.column(0)
            vals = b.column(2).to_numpy(zero_copy_only=False)
            chunk_ids = ts_s // span
            if n > 1:
                conv_change = pc.not_equal(
                    conv.slice(1), conv.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                changed = (
                    np.flatnonzero(
                        conv_change | (chunk_ids[1:] != chunk_ids[:-1])
                    )
                    + 1
                )
            else:
                changed = np.empty(0, np.int64)
            starts, ends, ts_blobs, value_blobs = _encode_arrays(
                np.ascontiguousarray(ts_s),
                np.ascontiguousarray(vals, np.float64),
                changed,
                span,
            )
            idx = pa.array(starts, pa.int64())
            ts_type = b.schema.field(1).type
            return pa.RecordBatch.from_arrays(
                [
                    pc.take(conv, idx),
                    pa.array([tier] * len(starts), pa.string()),
                    pa.array(chunk_ids[starts], pa.int64()),
                    pa.array(ts_s[starts] * 1_000_000, pa.int64()).cast(ts_type),
                    pa.array(ts_s[ends - 1] * 1_000_000, pa.int64()).cast(ts_type),
                    pa.array((ends - starts).astype(np.int32), pa.int32()),
                    pa.array(ts_blobs, pa.binary()),
                    pa.array(value_blobs, pa.binary()),
                ],
                names=[
                    "conv_id", "tier", "chunk_id", "range_start",
                    "range_end", "n_points", "ts_blob", "value_blob",
                ],
            )

        rest: "pa.RecordBatch | None" = None
        for b in batches:
            if rest is not None and rest.num_rows:
                # pyarrow 16 has no concat_batches; concat per column
                b = pa.RecordBatch.from_arrays(
                    [
                        pa.concat_arrays([rest.column(i), b.column(i)])
                        for i in range(b.num_columns)
                    ],
                    schema=b.schema,
                )
                rest = None
            if not b.num_rows:
                continue
            # hold back the trailing (conv, chunk) group — it may continue
            # into the next Arrow batch
            n = b.num_rows
            ts_s = secs(b)
            cid = ts_s // span
            if n > 1:
                conv = b.column(0)
                same_conv = pc.equal(
                    conv.slice(0, n - 1), conv[n - 1]
                ).to_numpy(zero_copy_only=False)
                key_last = np.concatenate(
                    (same_conv & (cid[:-1] == cid[-1]), [True])
                )
            else:
                key_last = np.ones(1, bool)
            tail_start = n - int(key_last[::-1].argmin() or n)
            if tail_start == 0:
                rest = b
                continue
            head, rest = b.slice(0, tail_start), b.slice(tail_start)
            yield encode_batch(head, ts_s[:tail_start])
        if rest is not None and rest.num_rows:
            yield encode_batch(rest, secs(rest))

    prepared = tier_df.select(
        "conv_id", "bucket_start", F.col(value_col).alias("_v")
    )
    if not assume_clustered:
        # Correctness needs all rows of one (conv, chunk) in ONE partition;
        # callers whose input is already hash-partitioned by conv_id (e.g.
        # the pipeline's cached tier tables) set assume_clustered=True and
        # skip this exchange — the in-partition sort alone suffices.
        prepared = prepared.repartition(
            *([num_partitions] if num_partitions else []), "conv_id"
        )
    prepared = prepared.sortWithinPartitions("conv_id", "bucket_start")
    return prepared.mapInArrow(encode_stream, CHUNK_SCHEMA)


def decode_chunks(chunk_df: DataFrame) -> DataFrame:
    """Chunk table → dense (conv_id, tier, bucket_start, value) rows.

    mapInPandas: each Arrow batch of chunk rows expands to decoded points —
    no shuffle, runs wherever the chunks are."""

    def expand(batches):
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        for pdf in batches:
            if not len(pdf):
                continue
            ts_parts = []
            val_parts = []
            for row in pdf.itertuples(index=False):
                ts_parts.append(decode_timestamps(row.ts_blob, row.n_points))
                val_parts.append(decode_values(row.value_blob, row.n_points))
            # one output frame per Arrow batch (np.repeat key expansion), not
            # one pandas frame + concat per chunk row
            reps = pdf["n_points"].to_numpy()
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), reps),
                    "tier": np.repeat(pdf["tier"].to_numpy(), reps),
                    "bucket_start": pd.to_datetime(
                        np.concatenate(ts_parts), unit="s"
                    ),
                    "value": np.concatenate(val_parts),
                }
            )

    schema = "conv_id string, tier string, bucket_start timestamp, value double"
    return chunk_df.mapInPandas(expand, schema)
