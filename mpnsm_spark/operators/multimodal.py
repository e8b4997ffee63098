"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` operators. The decode kernels are STUBBED in
this container (no image/audio libs) behind ``decode_stub`` — a deterministic
fake keyed on the payload hash — or raise ``NotImplementedError`` when
``strict=True``. The Spark-side plumbing (schema, batch shape, partitioning,
UDF signatures) is real and tested; swapping in PIL/ffmpeg later only changes
the numpy body of each kernel.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mpnsm_spark.session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

FEATURE_DIM = 16


def synthesize_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) for tests."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        kind = kinds[i % 3]
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 + (h[0] % 64) if kind != "audio" else None,
                64 + (h[1] % 64) if kind != "audio" else None,
                1000 + h[2] * 37 if kind != "image" else None,
                h * 4,
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes, out_len: int) -> np.ndarray:
    """Deterministic stand-in for a real decoder.

    Feature ``i`` is byte ``i`` of ``sha256(hex(payload))`` scaled to [0, 1].
    Hashing the lowercase-hex encoding (not the raw bytes) keeps the stub a
    pure, injective function of the payload that ANSI-SQL engines can replay
    (DuckDB's ``sha256`` accepts VARCHAR only), so the driver gets an exact
    value oracle instead of a rows-only check."""
    d = hashlib.sha256(payload.hex().encode("ascii")).digest()
    assert out_len <= len(d)
    return np.frombuffer(d[:out_len], dtype=np.uint8).astype(np.float64) / 255.0


def extract_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """payload → FEATURE_DIM float feature vector via mapInPandas.

    Real implementation would decode (PIL/librosa/ffmpeg) and pool; the stub
    pools the deterministic fake decode. ``strict=True`` raises
    NotImplementedError exactly where the real decoder belongs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg — not in this container"
                )
            feats = [
                _fake_decode(p, FEATURE_DIM).tolist() for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return df.mapInPandas(
        run, "media_id long, kind string, features array<double>"
    )


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video rows → one row per sampled frame timestamp (UDTF-style row
    expansion; frame payloads stubbed as digests of (payload, offset))."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        for pdf in batches:
            out = {"media_id": [], "frame_ms": [], "frame_digest": []}
            vids = pdf[pdf["kind"] == "video"]
            for row in vids.itertuples(index=False):
                for ms in range(0, int(row.duration_ms), every_ms):
                    out["media_id"].append(row.media_id)
                    out["frame_ms"].append(ms)
                    out["frame_digest"].append(
                        hashlib.sha256(bytes(row.payload) + ms.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(run, "media_id long, frame_ms int, frame_digest string")


def media_stats(df: DataFrame) -> DataFrame:
    """Pure-SQL metadata aggregation (no decode): per kind count/bytes/dims."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.avg("width").alias("avg_width"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    )
