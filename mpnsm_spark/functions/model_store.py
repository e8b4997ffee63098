"""Fitted-model persistence + predict-only warm start.

Reference parity: the reference serializes each fitted per-(unit, target)
model to a versioned artifact store and reloads it for ``run_mode='predict'``
(``/root/reference/mpnsm/time_series/manager.py:213-220`` fit-mode save,
``:262-271`` predict-mode reload; ``model.py:518-552`` save_model/load_model
via Prophet's JSON serializer), and its deprecated manager skips re-fitting
units whose fitted artifacts already exist (the ``cache_feat`` semantics,
``deprecated/ts_manager.py:123-145``).

The Spark-native translation stores fitted state as ROWS, not pickles:

- :class:`~mpnsm_spark.functions.model.TrendSeasonalOLS` is a linear model,
  so its complete fitted state is small and columnar — ``beta``
  (array<double>), ``changepoints`` (array<int>), ``n_train``, the residual
  regressor's fill value and (when ``fit_smooth``) its in-sample values.
  Parquet round-trips IEEE doubles bitwise, so a reloaded model predicts
  BIT-IDENTICALLY to the one just fitted — stronger than the reference's
  JSON float formatting.
- The store is a TableIO table (versioned manifests = the reference's
  ``*_v{N}.json`` artifacts): every refit APPENDS a snapshot; readers take
  the newest state per (key, target) — the max-version scan the params
  table already uses (SURVEY.md A7).
- Warm start = an anti-join: series present in the store are never re-fit
  (``fit_missing_model_states``), the exact cache_feat behavior, expressed
  as the J5 anti-join-resume pattern.

At 100 TB: model state is ~(2 + n_changepoints + 2·Σorders) doubles per
series — millions of series fit in a few hundred MB, the anti-join
broadcasts, and predict-only is a mapInPandas over state rows that never
touches the raw data.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpnsm_spark.functions.model import TrendSeasonalOLS
from mpnsm_spark.operators.skew import apply_per_series
from mpnsm_spark.sources.tableio import TableIO

__all__ = [
    "MODEL_STATE_SCHEMA",
    "fit_model_states",
    "state_row",
    "save_model_states",
    "load_model_states",
    "model_from_state",
    "predict_from_states",
    "fit_missing_model_states",
]

MODEL_STATE_SCHEMA = (
    "conv_id string, target string, params_json string, n_train int, "
    "changepoints array<int>, beta array<double>, smooth_fill double, "
    "smooth_train array<double>"
)


def fit_model_states(
    df: DataFrame,
    model_kwargs: dict | None = None,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
    target: str | None = None,
    min_train: int = 8,
) -> DataFrame:
    """Fit :class:`TrendSeasonalOLS` per series and emit ONE state row each.

    ``target`` names the fitted quantity in the store (defaults to
    ``value_col``) so multiple targets share one table, as the reference's
    per-target artifacts do. Series shorter than ``min_train`` emit nothing
    (empty-series pruning, SURVEY.md P8).
    """
    kwargs = dict(model_kwargs or {})
    tgt = target if target is not None else value_col

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        if len(vals) < min_train:
            return pd.DataFrame()  # apply_per_series drops zero-row results
        m = TrendSeasonalOLS(**kwargs).fit(vals)
        return state_row(pdf[key].iloc[0], tgt, kwargs, m)

    return apply_per_series(
        df.select(key, order_col, value_col),
        kernel,
        MODEL_STATE_SCHEMA,
        key=key,
        order_col=order_col,
    )


def state_row(key, target: str, kwargs: dict, m: TrendSeasonalOLS,
              key_col: str = "conv_id") -> pd.DataFrame:
    """A fitted model's state as one :data:`MODEL_STATE_SCHEMA` row, its
    key column named ``key_col``."""
    return pd.DataFrame(
        {
            key_col: [key],
            "target": [target],
            "params_json": [json.dumps(kwargs, sort_keys=True, default=list)],
            "n_train": [np.int32(m.n_train_)],
            "changepoints": [[int(c) for c in m.changepoints_]],
            "beta": [[float(b) for b in m.beta_]],
            "smooth_fill": [float(m.smooth_fill_)],
            "smooth_train": [
                None if m.smooth_train_ is None else [float(v) for v in m.smooth_train_]
            ],
        }
    )


def save_model_states(
    tio: TableIO, states: DataFrame, table: str = "models", meta: dict | None = None
) -> int:
    """Append fitted states as a new snapshot (the reference's versioned
    ``fit_data/model/...`` artifacts, manager.py:232-241). Returns version."""
    return tio.append(states, table, meta={**(meta or {}), "kind": "model_states"})


def load_model_states(
    spark: SparkSession, tio: TableIO, table: str = "models",
    target: str | None = None, key_col: str = "conv_id",
) -> DataFrame:
    """Newest fitted state per (key, target) across snapshots.

    Snapshot version is the recency order (A7 max-version scan): each
    snapshot's rows are tagged with their manifest version and the max-version
    row per (conv_id, target) wins — so a refit supersedes without deleting
    history, exactly like the reference's ``*_v{N}`` params artifacts.
    """
    current = tio.snapshot_version(table)
    parts = []
    for v in range(1, current + 1):
        try:
            parts.append(
                tio.read_snapshot(spark, table, v).withColumn("_v", F.lit(v))
            )
        except FileNotFoundError:
            continue
    if not parts:
        raise FileNotFoundError(f"model table {table} has no committed snapshots")
    allv = parts[0]
    for p in parts[1:]:
        allv = allv.unionByName(p)
    if target is not None:
        allv = allv.filter(F.col("target") == target)
    from pyspark.sql import Window

    # ``key_col`` lets stores written under a different series key (e.g. the
    # manager's composite ``_unit_id``) reuse the same max-version scan.
    w = Window.partitionBy(key_col, "target").orderBy(F.col("_v").desc())
    return (
        allv.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_v")
    )


def model_from_state(state: dict) -> TrendSeasonalOLS:
    """Reconstruct a fitted model from one state row (``load_model`` analog,
    reference model.py:534-552 — but a plain columnar row, no pickle)."""
    params = json.loads(state["params_json"]) if state.get("params_json") else {}
    if "seasonality" in params and params["seasonality"] is not None:
        params["seasonality"] = tuple(
            (float(p), int(o)) for p, o in params["seasonality"]
        )
    m = TrendSeasonalOLS(**params)
    m.n_train_ = int(state["n_train"])
    # Arrow hands array columns to pandas as numpy arrays, whose truthiness
    # is ambiguous — compare against None explicitly.
    cps = state["changepoints"]
    m.changepoints_ = [] if cps is None else [int(c) for c in cps]
    m.beta_ = np.asarray(state["beta"], dtype=np.float64)
    m.smooth_fill_ = float(state["smooth_fill"])
    st = state.get("smooth_train")
    m.smooth_train_ = None if st is None else np.asarray(st, dtype=np.float64)
    return m


PREDICT_SCHEMA = "conv_id string, target string, step int, yhat double"


def predict_from_states(states: DataFrame, horizon: int | str) -> DataFrame:
    """Predict-only mode (``run_mode='predict'``, manager.py:249-275): walk
    each stored state forward WITHOUT touching training data.

    ``horizon`` is a step count, or the name of a per-row int column. A row
    with an ``extra`` column (array<array<double>>, one regressor row per
    step, in step order) predicts with those values, which must cover every step.

    State rows are independent, so this is ``mapInPandas`` — no shuffle, no
    grouping: each Arrow batch of state rows expands to its forecast rows in
    place. Reconstruction + predict is the same code path as a fresh fit's
    predict, so reloaded forecasts are bit-identical to fit-time forecasts.
    """
    cols = ["conv_id", "target", "step", "yhat"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        for pdf in batches:
            outs = []
            for rec in pdf.to_dict("records"):
                m = model_from_state(rec)
                h = int(rec[horizon]) if isinstance(horizon, str) else horizon
                extra = rec.get("extra")
                if extra is not None and (len(extra) != h or not h):
                    raise ValueError(
                        f"series {rec['conv_id']!r}: {len(extra)} future regressor rows "
                        f"for {h} steps — future feature data must be present"
                    )
                x = None if extra is None else np.stack(extra)
                outs.append(
                    pd.DataFrame(
                        {
                            "conv_id": rec["conv_id"],
                            "target": rec["target"],
                            "step": np.arange(1, h + 1, dtype=np.int32),
                            "yhat": m.predict(h, extra=x),
                        }
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame({c: [] for c in cols}).astype({"step": "int32"})
            )

    return states.mapInPandas(gen, PREDICT_SCHEMA)


def fit_missing_model_states(
    spark: SparkSession,
    df: DataFrame,
    tio: TableIO,
    table: str = "models",
    model_kwargs: dict | None = None,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
    target: str | None = None,
    min_train: int = 8,
) -> DataFrame:
    """Warm start: fit ONLY series absent from the store, append them, return
    the full current state set (cache_feat semantics,
    ``deprecated/ts_manager.py:123-145``, as a J5 anti-join).

    The anti-join runs on the store's (small) key set, so already-fitted
    series are pruned before any kernel work; a re-run after a crash fits
    nothing and is a pure metadata read.
    """
    tgt = target if target is not None else value_col
    existing = None
    if tio.exists(table):
        existing = load_model_states(spark, tio, table, target=tgt)
        fitted_keys = existing.select(F.col("conv_id").alias(key)).distinct()
        todo = df.join(F.broadcast(fitted_keys), key, "left_anti")
    else:
        todo = df
    # Emptiness is checked on the key set, not the kernel output — a
    # limit(1) over the grouped-map result would run the Python fit twice
    # (once for the probe, once for the save).
    if todo.select(key).limit(1).count() > 0:
        new_states = fit_model_states(
            todo,
            model_kwargs=model_kwargs,
            key=key,
            order_col=order_col,
            value_col=value_col,
            target=tgt,
            min_train=min_train,
        )
        save_model_states(tio, new_states, table, meta={"target": tgt})
    return load_model_states(spark, tio, table, target=tgt)
