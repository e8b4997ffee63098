"""Fitted-model state: one row per fitted series, and predict-only reload.

Reference parity: the reference serializes each fitted per-(unit, target)
model to a versioned artifact store and reloads it for ``run_mode='predict'``
(``/root/reference/mpnsm/time_series/manager.py:213-220`` fit-mode save,
``:262-271`` predict-mode reload; ``model.py:518-552`` save_model/load_model
via Prophet's JSON serializer).

The Spark-native translation stores fitted state as ROWS, not pickles:

- :class:`~mpnsm_spark.functions.model.TrendSeasonalOLS` is a linear model,
  so its complete fitted state is small and columnar — ``beta``
  (array<double>), ``changepoints`` (array<int>), ``n_train``, the residual
  regressor's fill value and (when ``fit_smooth``) its in-sample values.
  Parquet round-trips IEEE doubles bitwise, so a reloaded model predicts
  BIT-IDENTICALLY to the one just fitted — stronger than the reference's
  JSON float formatting.
- The store is the manager's ``mgr_models_<target>`` table
  (:func:`mpnsm_spark.plans.manager.run_manager` with ``run_mode='fit'``,
  the only writer): every fit appends a snapshot whose rows carry their
  version in ``_v``, and readers take the newest state per unit — the
  max-version scan the params table already uses (SURVEY.md A7). A fit
  stores only the units without a state (the reference's ``cache_feat``
  skip, ``deprecated/ts_manager.py:123-145``), so one bucket's rows can
  span snapshots: keep-newest is per unit, never per bucket.

At 100 TB: model state is ~(2 + n_changepoints + 2·Σorders) doubles per
series — millions of series fit in a few hundred MB, and predict-only is a
mapInPandas over state rows that never touches the raw data.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpnsm_spark.functions.model import TrendSeasonalOLS
from mpnsm_spark.sources.tableio import TableIO

__all__ = [
    "MODEL_STATE_SCHEMA",
    "state_row",
    "load_model_states",
    "model_from_state",
    "predict_from_states",
]

MODEL_STATE_SCHEMA = (
    "_unit_id string, target string, params_json string, n_train int, "
    "changepoints array<int>, beta array<double>, smooth_fill double, "
    "smooth_train array<double>"
)


def state_row(unit_id, target: str, kwargs: dict, m: TrendSeasonalOLS) -> pd.DataFrame:
    """A fitted model's state as one :data:`MODEL_STATE_SCHEMA` row."""
    return pd.DataFrame(
        {
            "_unit_id": [unit_id],
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


def load_model_states(spark: SparkSession, tio: TableIO, table: str) -> DataFrame:
    """Newest fitted state per (unit, target) across every snapshot of
    ``table``: the max-``_v`` row wins, so a refit supersedes without
    deleting history, like the reference's ``*_v{N}`` params artifacts."""
    states = tio.read(spark, table)
    cols = [c for c in states.columns if c not in ("_unit_id", "target", "_v", "bucket_id")]
    return (
        states.groupBy("_unit_id", "target")
        .agg(F.max_by(F.struct(*cols), "_v").alias("_s"))
        .select("_unit_id", "target", "_s.*")
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


PREDICT_SCHEMA = "_unit_id string, target string, step int, yhat double"


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
    cols = ["_unit_id", "target", "step", "yhat"]

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
                        f"unit {rec['_unit_id']!r}: {len(extra)} future regressor rows "
                        f"for {h} steps — future feature data must be present"
                    )
                x = None if extra is None else np.stack(extra)
                outs.append(
                    pd.DataFrame(
                        {
                            "_unit_id": rec["_unit_id"],
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
