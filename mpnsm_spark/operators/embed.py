"""Embedding generation seam: text → vector, Arrow-batched, model-swappable.

The similarity stack (`operators/similarity.py`) consumes a pre-built
embeddings table; this module closes the training-data loop by producing
embeddings FROM text at scale. Real sentence-encoder models are not in this
container, so — mirroring ``operators/multimodal.py``'s decoder seam — the
kernel body is a deterministic STUB behind ``strict=True``:

- ``strict=True`` raises ``NotImplementedError`` exactly where a real model
  (ONNX/torch encoder over the Arrow batch) belongs; swapping it in changes
  ONLY the numpy body of the kernel — batching, schema, partitioning and
  every downstream operator stay as-is.
- the stub is FEATURE HASHING (the classic hashing trick): token ``t`` adds
  ±1 to slot ``md5(t)[-1]`` (sign from bit 0 of ``md5(t)[-2]``), then
  L2-normalize and quantize at 6dp. Near-identical texts therefore get
  near-identical vectors — the stub is a *meaningful* similarity embedding,
  not noise — and every operation is pure integer/IEEE math an ANSI engine
  replays bitwise (the driver's exact value oracle; same md5 trick as the
  minhash/simhash rows).

Tokenization is the engine's established contract (``operators/text.py``
``normalize_text``: lower, collapse whitespace, trim; split on single
space), so embeddings stay consistent with the dedup operators.

Scale shape: one ``mapInPandas`` pass — no shuffle, no grouping; real model
inference batches exactly the same way (Arrow batch → encoder → Arrow
batch), which is why the seam is the honest 100-TB design.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

EMBED_DIM = 16


def _hashed_embedding(text: str, dim: int) -> np.ndarray:
    """Deterministic feature-hashed embedding of one document (the stub)."""
    toks = re.sub(r"\s+", " ", (text or "").lower()).strip().split(" ")
    v = np.zeros(dim, dtype=np.float64)
    for tok in toks:
        h = hashlib.md5(tok.encode("utf-8")).hexdigest()
        bucket = int(h[-1], 16) % dim
        sign = 1.0 if (int(h[-2], 16) & 1) == 1 else -1.0
        v[bucket] += sign
    ss = float((v * v).sum())
    if ss == 0.0:
        return v
    norm = np.sqrt(ss)
    x = v / norm
    # half-away-from-zero at 6dp (the engine's decimal contract), -0.0
    # canonicalized — identical op sequence to the SQL oracle
    return (
        np.where(x >= 0, np.floor(x * 1e6 + 0.5), np.ceil(x * 1e6 - 0.5)) / 1e6
        + 0.0
    )


def embed_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = EMBED_DIM,
    strict: bool = False,
) -> DataFrame:
    """(id, text) → (id, embedding array<double>) via ``mapInPandas``.

    ``strict=True`` raises where the real encoder belongs (no model libs in
    this container); the default stub is the SQL-replayable hashing-trick
    embedding documented above.
    """
    if dim > 16 and not strict:
        raise ValueError("the hashing stub derives slots from one hex nibble; dim <= 16")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "real text encoder (sentence-transformers/ONNX) not in "
                    "this container — swap the kernel body here"
                )
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col],
                    "embedding": [
                        _hashed_embedding(t, dim).tolist() for t in pdf[text_col]
                    ],
                }
            )

    id_type = dict(df.dtypes)[id_col]
    # Encoder kernels are the expensive per-row work; a single-file (one row
    # group) corpus plans as a 1-task scan and would embed serially. fan_out
    # hash-spreads the narrow (id, text) rows first — deterministic, and a
    # structural no-op once the input has enough splits (real corpus scale).
    from mpnsm_spark.operators.skew import fan_out

    return (
        fan_out(df.select(id_col, text_col), key=id_col)
        .mapInPandas(run, f"_id {id_type}, embedding array<double>")
        .withColumnRenamed("_id", id_col)
    )


def sql_embed_cte(dim: int = EMBED_DIM, source: str = "documents",
                  id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB CTE chain computing the stub embeddings bitwise (shared by the
    driver oracles): yields CTEs ending in ``vecs(id, embedding)``."""
    slots = ", ".join(
        f"coalesce(sum(CASE WHEN bucket = {i} THEN sgn END), 0.0)"
        for i in range(dim)
    )
    return f"""
norm_txt AS (
  SELECT {id_col} AS id,
         trim(regexp_replace(lower(coalesce({text_col}, '')), '\\s+', ' ', 'g')) AS t
  FROM {source}
), tok AS (
  SELECT id, unnest(string_split(t, ' ')) AS tk FROM norm_txt
), th AS (
  SELECT id, md5(tk) AS h FROM tok
), feats AS (
  SELECT id,
         (strpos('0123456789abcdef', substr(h, 32, 1)) - 1) % {dim} AS bucket,
         CASE WHEN ((strpos('0123456789abcdef', substr(h, 31, 1)) - 1) & 1) = 1
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM th
), raw_vec AS (
  SELECT id, [{slots}] AS v FROM feats GROUP BY id
), vecs AS (
  SELECT id,
         CASE WHEN list_dot_product(v, v) = 0 THEN v
              ELSE list_transform(v, x ->
                CASE WHEN x / sqrt(list_dot_product(v, v)) >= 0
                     THEN floor(x / sqrt(list_dot_product(v, v)) * 1e6 + 0.5) / 1e6 + 0.0
                     ELSE ceil(x / sqrt(list_dot_product(v, v)) * 1e6 - 0.5) / 1e6 + 0.0
                END)
         END AS embedding
  FROM raw_vec
)"""
