"""Stepwise autoregressive prediction with cross-target feedback.

Reference parity: ``/root/reference/mpnsm/time_series/forecast.py:435-469``
(stepwise predict: dense future grid walked one step at a time, each step's
prediction appended to the data the next step sees) and ``update_data``
(``forecast.py:343-382``): multi-target models consume OTHER targets'
step-k predictions as regressors for their own step k — the loop is
inherently sequential per series and therefore lives inside the per-series
grouped-map kernel (SURVEY.md F1), exactly where the reference runs it.

The engine's deterministic surrogate recurrence (drop-in replaceable by any
fitted model):

    a_k = (a_{k-1} + mean_a) * 0.5          # AR pull toward the train mean
    b_k = b_{k-1} * 0.7 + a_k * 0.3         # cross-target feedback a -> b

with a_0/b_0 = last train values and mean_a the decimal-exact train mean.
Every float op is written in a fixed order so an ANSI engine can replay the
walk bitwise with a recursive CTE (see the hyperparam/stepwise oracles in
__spark_entry__).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mpnsm_spark.functions.tuning import dec_mean
from mpnsm_spark.operators.skew import apply_per_series

STEPWISE_SCHEMA = "conv_id string, step int, yhat_a double, yhat_b double"
STEPWISE_DEBUG_SCHEMA = (
    STEPWISE_SCHEMA + ", mean_a double, a0 double, b0 double, n_train int"
)


def stepwise_predict(
    df: DataFrame,
    horizon: int = 10,
    key: str = "conv_id",
    order_col="turn_idx",
    a_col: str = "a",
    b_col: str = "b",
    min_train: int = 3,
    with_debug: bool = False,
) -> DataFrame:
    """Per-series stepwise walk: ``horizon`` steps, predictions fed back.

    Series shorter than ``min_train`` (after holding out nothing — the whole
    series is train) emit no rows. Output: (key, step 1..horizon, yhat_a,
    yhat_b).

    ``with_debug=True`` enriches every output row with the kernel's fitted
    parameters — ``mean_a`` (the AR anchor coefficient), ``a0``/``b0``
    (initial conditions = last train values) and ``n_train`` — mirroring the
    reference's coefficient-enriched forecast output
    (``/root/reference/mpnsm/time_series/model.py:194-222``: regressor
    coefficients cross-joined onto every fcst row).
    """
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[a_col].to_numpy(np.float64)
        b = pdf[b_col].to_numpy(np.float64)
        cols = ["conv_id", "step", "yhat_a", "yhat_b"] + (
            ["mean_a", "a0", "b0", "n_train"] if with_debug else []
        )
        if len(a) < min_train:
            empty = pd.DataFrame({c: [] for c in cols})
            return empty.astype({"step": "int32", "yhat_a": float, "yhat_b": float})
        mean_a = dec_mean(a)
        ya, yb = float(a[-1]), float(b[-1])
        a0, b0 = ya, yb
        rows = {c: [] for c in cols}
        for k in range(1, horizon + 1):
            ya = (ya + mean_a) * 0.5
            yb = yb * 0.7 + ya * 0.3
            rows["conv_id"].append(pdf[key].iloc[0])
            rows["step"].append(k)
            rows["yhat_a"].append(ya)
            rows["yhat_b"].append(yb)
            if with_debug:
                rows["mean_a"].append(mean_a)
                rows["a0"].append(a0)
                rows["b0"].append(b0)
                rows["n_train"].append(len(a))
        out = pd.DataFrame(rows).astype({"step": "int32"})
        return out.astype({"n_train": "int32"}) if with_debug else out

    return apply_per_series(
        df.select(key, *order_cols, a_col, b_col),
        kernel,
        STEPWISE_DEBUG_SCHEMA if with_debug else STEPWISE_SCHEMA,
        key=key,
        order_col=order_cols,
    )


FORECAST_SCHEMA = "conv_id string, step int, yhat double"
FORECAST_DEBUG_SCHEMA = (
    FORECAST_SCHEMA
    + ", n_train int, n_changepoints int, intercept double, trend double"
    + ", resid_std double"
)


def forecast_trend_seasonal(
    df: DataFrame,
    horizon: int = 10,
    model_kwargs: dict | None = None,
    key: str = "conv_id",
    order_col="turn_idx",
    value_col: str = "value",
    min_train: int = 8,
    with_debug: bool = False,
) -> DataFrame:
    """Per-series changepoint-aware OLS trend+seasonal forecast — the
    engine's real model (reference ``model.py:417-442`` fit +
    ``forecast.py`` predict), fit in closed form inside the grouped-map
    kernel (:class:`mpnsm_spark.functions.model.TrendSeasonalOLS`).

    Output: (key, step 1..horizon, yhat); series shorter than ``min_train``
    emit nothing. ``with_debug`` enriches rows with the fit's shape —
    ``n_train``, ``n_changepoints``, the intercept/trend coefficients and the
    in-sample residual std — mirroring the reference's coefficient-enriched
    forecast output (``model.py:194-222``).
    """
    from mpnsm_spark.functions.model import TrendSeasonalOLS

    kwargs = dict(model_kwargs or {})
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        cols = ["conv_id", "step", "yhat"] + (
            ["n_train", "n_changepoints", "intercept", "trend", "resid_std"]
            if with_debug
            else []
        )
        if len(vals) < min_train:
            return pd.DataFrame({c: [] for c in cols}).astype(
                {"step": "int32", "yhat": float}
            )
        model = TrendSeasonalOLS(**kwargs).fit(vals)
        preds = model.predict(horizon)
        out = pd.DataFrame(
            {
                "conv_id": pdf[key].iloc[0],
                "step": np.arange(1, horizon + 1, dtype=np.int32),
                "yhat": preds,
            }
        )
        if with_debug:
            coefs = model.coefficients()
            resid = vals - model.predict_in_sample()
            out["n_train"] = np.int32(len(vals))
            out["n_changepoints"] = np.int32(len(model.changepoints_))
            out["intercept"] = coefs["intercept"]
            out["trend"] = coefs["trend"]
            out["resid_std"] = float(np.std(resid))
        return out

    return apply_per_series(
        df.select(key, *order_cols, value_col),
        kernel,
        FORECAST_DEBUG_SCHEMA if with_debug else FORECAST_SCHEMA,
        key=key,
        order_col=order_cols,
    )
