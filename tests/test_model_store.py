"""Fitted-model persistence + predict-only warm start (reference
manager.py:213-220/262-271 fit-save / predict-reload, model.py:518-552
save_model/load_model, deprecated/ts_manager.py:123-145 cache_feat skip)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.functions.model import TrendSeasonalOLS
from mpnsm_spark.functions.model_store import (
    fit_missing_model_states,
    fit_model_states,
    load_model_states,
    model_from_state,
    predict_from_states,
    save_model_states,
)
from mpnsm_spark.sources.tableio import TableIO

MODEL_KWARGS = {
    "n_changepoints": 2,
    "min_distance": 3,
    "seasonality": [[7.0, 2]],
    "fit_smooth": True,
    "smooth_window": 5,
}


@pytest.fixture()
def series_df(spark):
    rows = []
    rng = np.random.RandomState(7)
    for c in range(6):
        n = 30 + 5 * c
        vals = np.round(
            10 + 0.3 * np.arange(n) + 3 * np.sin(np.arange(n) / 3) + rng.randn(n),
            6,
        )
        rows += [(f"conv{c}", i, float(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")


def _pd(df):
    return df.toPandas().sort_values(["conv_id", "target", "step"]).reset_index(drop=True)


def test_fit_persist_reload_bitwise(spark, series_df, tmp_path):
    """fit → persist → reload → predictions are BIT-identical to both the
    in-memory fitted state and an independent local refit."""
    tio = TableIO(str(tmp_path / "wh"))
    states = fit_model_states(series_df, MODEL_KWARGS)
    v = save_model_states(tio, states, "models")
    assert v == 1

    reloaded = load_model_states(spark, tio, "models")
    got = _pd(predict_from_states(reloaded, horizon=7))

    # independent local oracle: refit each series in plain numpy/pandas
    pdf = series_df.toPandas().sort_values(["conv_id", "turn_idx"])
    expected = []
    for conv, g in pdf.groupby("conv_id"):
        kwargs = dict(MODEL_KWARGS)
        kwargs["seasonality"] = tuple(tuple(s) for s in kwargs["seasonality"])
        m = TrendSeasonalOLS(**kwargs).fit(g["value"].to_numpy(np.float64))
        expected.append(
            pd.DataFrame(
                {
                    "conv_id": conv,
                    "target": "value",
                    "step": np.arange(1, 8, dtype=np.int32),
                    "yhat": m.predict(7),
                }
            )
        )
    exp = pd.concat(expected, ignore_index=True)
    exp = exp.sort_values(["conv_id", "target", "step"]).reset_index(drop=True)
    # bitwise: parquet round-trips IEEE doubles exactly and the reloaded
    # predict is the same code path as fit-time predict
    assert (got["yhat"].to_numpy() == exp["yhat"].to_numpy()).all()
    assert got["step"].tolist() == exp["step"].tolist()


def test_state_row_reconstructs_full_model(spark, series_df, tmp_path):
    """model_from_state restores in-sample prediction too (smooth_train_
    round-trips) — the state row IS the complete fitted model."""
    tio = TableIO(str(tmp_path / "wh"))
    save_model_states(tio, fit_model_states(series_df, MODEL_KWARGS), "models")
    row = (
        load_model_states(spark, tio, "models")
        .filter(F.col("conv_id") == "conv0")
        .collect()[0]
        .asDict()
    )
    m = model_from_state(row)
    pdf = (
        series_df.filter(F.col("conv_id") == "conv0")
        .toPandas()
        .sort_values("turn_idx")
    )
    kwargs = dict(MODEL_KWARGS)
    kwargs["seasonality"] = tuple(tuple(s) for s in kwargs["seasonality"])
    fresh = TrendSeasonalOLS(**kwargs).fit(pdf["value"].to_numpy(np.float64))
    assert (m.predict_in_sample() == fresh.predict_in_sample()).all()
    assert (m.predict(12) == fresh.predict(12)).all()


def test_warm_start_skips_fitted_series(spark, series_df, tmp_path):
    """cache_feat semantics: a second run must NOT refit stored series —
    proven by corrupting their data and checking predictions are unchanged —
    while new series get fitted and appended."""
    tio = TableIO(str(tmp_path / "wh"))
    first = series_df.filter(F.col("conv_id").isin("conv0", "conv1", "conv2"))
    states1 = fit_missing_model_states(spark, first, tio, model_kwargs=MODEL_KWARGS)
    assert states1.count() == 3
    pred1 = _pd(predict_from_states(states1, horizon=5))

    # corrupt the already-fitted series' values; add new series
    poisoned = series_df.withColumn(
        "value",
        F.when(
            F.col("conv_id").isin("conv0", "conv1", "conv2"),
            F.col("value") * 1000.0,
        ).otherwise(F.col("value")),
    )
    states2 = fit_missing_model_states(spark, poisoned, tio, model_kwargs=MODEL_KWARGS)
    assert states2.count() == 6
    pred2 = _pd(predict_from_states(states2, horizon=5))
    old = pred2[pred2["conv_id"].isin(["conv0", "conv1", "conv2"])].reset_index(
        drop=True
    )
    # stored series: identical predictions despite corrupted input = no refit
    assert (old["yhat"].to_numpy() == pred1["yhat"].to_numpy()).all()

    # a third run with nothing new appends no snapshot (pure metadata read)
    v_before = tio.snapshot_version("models")
    states3 = fit_missing_model_states(spark, poisoned, tio, model_kwargs=MODEL_KWARGS)
    assert tio.snapshot_version("models") == v_before
    assert states3.count() == 6


def test_refit_supersedes_by_snapshot_version(spark, series_df, tmp_path):
    """An explicit refit appends a snapshot and load takes the newest state
    per (key, target) — versioned params semantics (A7 max-version scan)."""
    tio = TableIO(str(tmp_path / "wh"))
    save_model_states(tio, fit_model_states(series_df, MODEL_KWARGS), "models")
    shifted = series_df.withColumn("value", F.col("value") + F.lit(100.0))
    save_model_states(tio, fit_model_states(shifted, MODEL_KWARGS), "models")
    cur = load_model_states(spark, tio, "models")
    assert cur.count() == series_df.select("conv_id").distinct().count()
    # newest snapshot wins: intercept-ish level must reflect the +100 shift
    got = _pd(predict_from_states(cur, horizon=3))
    fresh = _pd(
        predict_from_states(fit_model_states(shifted, MODEL_KWARGS), horizon=3)
    )
    assert (got["yhat"].to_numpy() == fresh["yhat"].to_numpy()).all()


def test_short_series_pruned(spark, tmp_path):
    """Series below min_train emit no state (P8 pruning) and a store built
    from only-short series still loads as empty-but-valid."""
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 2.0), ("b", 0, 3.0)],
        "conv_id string, turn_idx int, value double",
    )
    states = fit_model_states(df, MODEL_KWARGS, min_train=8)
    assert states.count() == 0
    tio = TableIO(str(tmp_path / "wh"))
    save_model_states(tio, states, "models")
    assert load_model_states(spark, tio, "models").count() == 0
