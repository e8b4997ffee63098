"""Gorilla codec: round-trip properties (numpy level) + Spark chunk pipeline."""

import numpy as np
import pytest

from mpnsm_spark.operators.gorilla import (
    decode_chunks,
    decode_timestamps,
    decode_values,
    encode_tier_chunks,
    encode_timestamps,
    encode_values,
)
from mpnsm_spark.operators.rollup import rollup_raw

RNG = np.random.default_rng(42)


def _ts_cases():
    base = 1_735_689_600  # 2025-01-01
    return {
        "regular_minute": base + 60 * np.arange(500, dtype=np.int64),
        "single": np.array([base], dtype=np.int64),
        "pair": np.array([base, base + 1], dtype=np.int64),
        "irregular": base + np.cumsum(RNG.integers(1, 10_000, 400)).astype(np.int64),
        "huge_jumps": base + np.cumsum(RNG.integers(1, 2**40, 50)).astype(np.int64),
        "bursty": base + np.sort(RNG.integers(0, 120, 300)).astype(np.int64),
    }


def _val_cases():
    return {
        "constant": np.full(500, 3.25),
        "ramp": np.linspace(0.0, 1.0, 400),
        "random": RNG.normal(100.0, 15.0, 300),
        "ints_as_floats": RNG.integers(0, 300, 400).astype(np.float64),
        "single": np.array([7.5]),
        "specials": np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 1e-308, 1e308]),
    }


@pytest.mark.parametrize("name", list(_ts_cases()))
def test_ts_roundtrip(name):
    ts = _ts_cases()[name]
    blob = encode_timestamps(ts)
    out = decode_timestamps(blob, len(ts))
    np.testing.assert_array_equal(out, ts)


@pytest.mark.parametrize("name", list(_val_cases()))
def test_value_roundtrip_bitwise(name):
    vals = _val_cases()[name]
    blob = encode_values(vals)
    out = decode_values(blob, len(vals))
    # bitwise equality (handles NaN and -0.0)
    np.testing.assert_array_equal(out.view(np.uint64), vals.view(np.uint64))


def test_compression_ratio_regular_series():
    """Regular minute buckets + slowly-varying values must beat raw 16B/point."""
    ts = 1_735_689_600 + 60 * np.arange(4096, dtype=np.int64)
    vals = np.round(RNG.normal(100, 1, 4096))  # integral doubles XOR well
    total = len(encode_timestamps(ts)) + len(encode_values(vals))
    raw = 16 * 4096
    assert total < raw / 3, f"compressed {total}B vs raw {raw}B"
    # dod=0 everywhere → ts stream ~1 bit/point
    assert len(encode_timestamps(ts)) < 8 + 4096 // 8 + 16


def test_empty_arrays():
    assert encode_timestamps(np.empty(0, np.int64)) == b""
    assert decode_timestamps(b"", 0).size == 0
    assert encode_values(np.empty(0)) == b""
    assert decode_values(b"", 0).size == 0


def test_spark_chunk_roundtrip(spark, transcripts):
    """tier_1m → encode chunks → decode == original (conv_id, bucket, value_avg)."""
    tier = rollup_raw(transcripts, "1m")
    chunks = encode_tier_chunks(tier, "1m", points_per_chunk=256)
    decoded = decode_chunks(chunks).toPandas()
    expected = tier.select("conv_id", "bucket_start", "value_avg").toPandas()

    d = decoded.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    e = expected.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    assert len(d) == len(e)
    assert (d["conv_id"] == e["conv_id"]).all()
    assert (d["bucket_start"].values == e["bucket_start"].values).all()
    np.testing.assert_array_equal(
        d["value"].to_numpy().view(np.uint64),
        e["value_avg"].to_numpy(np.float64).view(np.uint64),
    )
    assert (decoded["tier"] == "1m").all()


def test_chunk_bounded_size(spark, transcripts):
    """No chunk exceeds points_per_chunk — hot conversations split by time."""
    tier = rollup_raw(transcripts, "1m")
    chunks = encode_tier_chunks(tier, "1m", points_per_chunk=64).toPandas()
    assert (chunks["n_points"] <= 64).all()
    assert chunks["n_points"].sum() == tier.count()


def test_arrow_batch_boundary_carryover(spark, transcripts):
    """Chunks are identical regardless of Arrow batch size: a (conv, chunk)
    group spanning a batch boundary is carried over inside the mapInArrow
    iterator, so a 37-row batch stream must yield bit-identical blobs."""
    tier = rollup_raw(transcripts, "1m")
    big = encode_tier_chunks(tier, "1m", points_per_chunk=256).toPandas()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        small = encode_tier_chunks(tier, "1m", points_per_chunk=256).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    key = ["conv_id", "chunk_id"]
    b = big.sort_values(key).reset_index(drop=True)
    s = small.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) and len(b) > 0
    for col in big.columns:
        assert (b[col] == s[col]).all(), col


def test_encode_frame_matches_per_group():
    """The batch-vectorized _encode_frame must produce blobs BIT-IDENTICAL to
    the per-group reference encoders for every (conv, chunk) segment."""
    import pandas as pd

    from mpnsm_spark.operators.gorilla import _encode_frame

    base = 1_735_689_600
    rows = []
    # mixed group sizes incl. singletons, chunk splits, huge dods, NaN values
    specs = [("a", 1), ("b", 7), ("c", 1), ("d", 300), ("e", 2), ("f", 59)]
    for conv, size in specs:
        ts = base + np.cumsum(RNG.integers(1, 5000, size)).astype(np.int64)
        vals = RNG.normal(50.0, 20.0, size)
        vals[::9] = np.nan
        for t, v in zip(ts, vals):
            rows.append((conv, t, v))
    pdf = pd.DataFrame(rows, columns=["conv_id", "bucket_start", "_v"])
    pdf["bucket_start"] = pd.to_datetime(pdf["bucket_start"], unit="s")
    pdf = pdf.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)

    span = 3600 * 64  # force some conversations to split into several chunks
    out = _encode_frame(pdf, "1h", span)

    ts_all = (
        pdf["bucket_start"].astype("datetime64[ns]").astype("int64") // 10**9
    ).to_numpy()
    vals_all = pdf["_v"].to_numpy(np.float64)
    convs = pdf["conv_id"].to_numpy()
    cids = ts_all // span
    changed = np.flatnonzero((convs[1:] != convs[:-1]) | (cids[1:] != cids[:-1])) + 1
    segs_ts = np.split(ts_all, changed)
    segs_v = np.split(vals_all, changed)
    assert len(out) == len(segs_ts)
    for i, (st, sv) in enumerate(zip(segs_ts, segs_v)):
        assert out["ts_blob"].iloc[i] == encode_timestamps(st), f"chunk {i} ts"
        assert out["value_blob"].iloc[i] == encode_values(sv), f"chunk {i} vals"
        assert out["n_points"].iloc[i] == len(st)
        got_ts = decode_timestamps(out["ts_blob"].iloc[i], len(st))
        assert (got_ts == st).all()


def test_vectorized_decoders_match_scalar_twins():
    """The two-pass vectorized decoders must be bit-identical to the scalar
    reference decoders on every case family (incl. specials and huge dods)."""
    from .gorilla_scalar import _decode_timestamps_scalar, _decode_values_scalar

    for name, ts in _ts_cases().items():
        blob = encode_timestamps(ts)
        np.testing.assert_array_equal(
            decode_timestamps(blob, len(ts)),
            _decode_timestamps_scalar(blob, len(ts)),
            err_msg=f"ts case {name}",
        )
    for name, vals in _val_cases().items():
        blob = encode_values(vals)
        np.testing.assert_array_equal(
            decode_values(blob, len(vals)).view(np.uint64),
            _decode_values_scalar(blob, len(vals)).view(np.uint64),
            err_msg=f"value case {name}",
        )
