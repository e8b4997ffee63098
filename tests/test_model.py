"""TrendSeasonalOLS — the real per-series model — vs independent oracles.

Oracles here are deliberately NOT the engine's own code paths: plain
np.polyfit / np.linalg.lstsq fits, hand-built pandas replays, and
known-generator recovery on seeded series with planted trend breaks.
"""

import numpy as np
import pandas as pd
import pytest

from mpnsm_spark.functions.model import (
    TrendSeasonalOLS,
    design_matrix,
    linear_hinge_forecaster,
    ols_forecaster,
)

RNG = np.random.default_rng(7)


def _piecewise(n, break_at, s1, s2, intercept=2.0):
    t = np.arange(n, dtype=float)
    y = intercept + s1 * t
    y[break_at:] += (s2 - s1) * (t[break_at:] - break_at)
    return y


# ------------------------------------------------------------- exact recovery


def test_recovers_planted_trend_break():
    """A clean two-slope series: the detected changepoint sits at the planted
    break (±1 row — the |d2| peak spans the corner) and the forecast
    extrapolates the SECOND slope, not the average."""
    y = _piecewise(60, break_at=30, s1=0.5, s2=-0.8)
    m = TrendSeasonalOLS(n_changepoints=1, ridge=0.0).fit(y)
    assert len(m.changepoints_) == 1
    cp = m.changepoints_[0]
    # the 3-window smooth spreads the corner's |d2| over break±1
    assert abs(cp - 30) <= 1
    # independent oracle: lstsq on the same hinge basis at the detected knot
    preds = m.predict(5)
    X = design_matrix(np.arange(60, dtype=float), 60, [cp])
    beta_ind, *_ = np.linalg.lstsq(X, y, rcond=None)
    want = design_matrix(np.arange(60, 65, dtype=float), 60, [cp]) @ beta_ind
    np.testing.assert_allclose(preds, want, rtol=1e-8)
    # the forecast extrapolates the SECOND regime's slope, not the average
    slope = preds[1] - preds[0]
    assert abs(slope - (-0.8)) < 0.05


def test_matches_polyfit_when_plain_linear():
    """n_changepoints=0, no seasonality, ridge=0 → exactly simple OLS; the
    independent oracle is np.polyfit on the scaled time axis."""
    y = 3.0 + 0.25 * np.arange(80) + RNG.normal(0, 0.5, 80)
    m = TrendSeasonalOLS(n_changepoints=0, ridge=0.0).fit(y)
    ts = np.arange(80, dtype=float) / 79.0
    slope, intercept = np.polyfit(ts, y, 1)
    np.testing.assert_allclose(m.beta_, [intercept, slope], rtol=1e-8)
    np.testing.assert_allclose(
        m.predict(3), intercept + slope * (np.arange(80, 83) / 79.0), rtol=1e-8
    )


def test_seasonality_recovery_and_forecast():
    t = np.arange(96, dtype=float)
    y = 5.0 + 3.0 * np.sin(2 * np.pi * t / 12.0) + 1.5 * np.cos(2 * np.pi * t / 12.0)
    m = TrendSeasonalOLS(
        n_changepoints=0, seasonality=((12.0, 1),), ridge=0.0
    ).fit(y)
    assert np.max(np.abs(m.predict_in_sample() - y)) < 1e-8
    tf = np.arange(96, 106, dtype=float)
    want = 5.0 + 3.0 * np.sin(2 * np.pi * tf / 12.0) + 1.5 * np.cos(2 * np.pi * tf / 12.0)
    np.testing.assert_allclose(m.predict(10), want, atol=1e-8)
    coefs = m.coefficients()
    assert abs(coefs["sin_12_1"] - 3.0) < 1e-8
    assert abs(coefs["cos_12_1"] - 1.5) < 1e-8


# -------------------------------------------------------- general-fit oracle


def test_full_design_matches_independent_lstsq():
    """Changepoints + seasonality + extra regressor: the solve equals an
    independent np.linalg.lstsq on the same design (ridge=0)."""
    y = _piecewise(100, 40, 0.3, 1.1) + 2.0 * np.sin(
        2 * np.pi * np.arange(100) / 24.0
    ) + RNG.normal(0, 0.2, 100)
    extra = RNG.normal(0, 1, 100)
    y = y + 0.7 * extra
    m = TrendSeasonalOLS(
        n_changepoints=2, seasonality=((24.0, 2),), ridge=0.0
    ).fit(y, extra=extra)
    X = design_matrix(
        np.arange(100, dtype=float), 100, m.changepoints_, ((24.0, 2),), extra
    )
    beta_ind, *_ = np.linalg.lstsq(X, y, rcond=None)
    np.testing.assert_allclose(m.beta_, beta_ind, rtol=1e-6, atol=1e-8)


# ---------------------------------------------------------- residual re-fit


def test_fit_smooth_reduces_in_sample_error():
    """Structure OUTSIDE the basis (slow sine, no seasonal terms): the
    residual re-fit must strictly improve the in-sample fit (the reference's
    _fit_smooth contract) and the smooth regressor must equal a centered
    rolling mean of the first fit's (yhat - y) — pandas oracle."""
    t = np.arange(120, dtype=float)
    y = 1.0 + 0.1 * t + 4.0 * np.sin(2 * np.pi * t / 50.0)
    base = TrendSeasonalOLS(n_changepoints=0, ridge=0.0).fit(y)
    sm_model = TrendSeasonalOLS(
        n_changepoints=0, fit_smooth=True, smooth_window=7, ridge=0.0
    ).fit(y)
    e0 = np.abs(base.predict_in_sample() - y).sum()
    e1 = np.abs(sm_model.predict_in_sample() - y).sum()
    assert e1 < e0 * 0.5
    # pandas oracle for the smooth regressor itself
    first_resid = base.predict_in_sample() - y
    want_sm = (
        pd.Series(first_resid).rolling(7, center=True, min_periods=1).mean().to_numpy()
    )
    np.testing.assert_allclose(sm_model.smooth_train_, want_sm, rtol=1e-10)


def test_fit_smooth_future_fill_modes():
    y = 1.0 + 4.0 * np.sin(2 * np.pi * np.arange(80) / 30.0)
    fills = {}
    for mode in ("ffill", "zero", "mean"):
        m = TrendSeasonalOLS(
            n_changepoints=0, fit_smooth=True, smooth_window=5, smooth_future=mode
        ).fit(y)
        fills[mode] = m.smooth_fill_
        assert np.isfinite(m.predict(4)).all()
    assert fills["zero"] == 0.0
    assert fills["ffill"] == pytest.approx(float(m.smooth_train_[-1]))
    assert fills["mean"] == pytest.approx(float(np.mean(m.smooth_train_)))
    with pytest.raises(ValueError, match="forecast"):
        TrendSeasonalOLS(smooth_future="forecast", fit_smooth=True).fit(y)


# ------------------------------------------------------- forecaster adapters


def test_ols_forecaster_param_forms():
    y = _piecewise(50, 25, 0.2, 0.9)
    p_scalar = ols_forecaster(y, 5, 1)
    p_dict = ols_forecaster(y, 5, {"n_changepoints": 1})
    np.testing.assert_array_equal(p_scalar, p_dict)
    with pytest.raises(ValueError, match="unknown"):
        ols_forecaster(y, 5, {"not_a_knob": 3})


def test_linear_hinge_matches_independent_lstsq():
    """The Cramer's-rule decimal-contract fit equals an independent lstsq on
    the quantized series (the driver oracle's closed form is a real OLS)."""
    y = RNG.normal(10, 3, 40)
    n = len(y)
    k = n // 2
    y6 = np.where(y >= 0, np.floor(y * 1e6 + 0.5), np.ceil(y * 1e6 - 0.5)) / 1e6
    t = np.arange(n, dtype=float)
    X = np.column_stack([np.ones(n), t, np.maximum(t - k, 0.0)])
    beta, *_ = np.linalg.lstsq(X, y6, rcond=None)
    tf = np.arange(n, n + 6, dtype=float)
    want = beta[0] + beta[1] * tf + beta[2] * np.maximum(tf - k, 0.0)
    np.testing.assert_allclose(linear_hinge_forecaster(y, 6, 0.5), want, rtol=1e-7)


# ------------------------------------------------------------- Spark surface


def test_manager_forecast_matches_local_kernel(spark, transcripts, tmp_path):
    """run_manager's kernel, the engine's one fit path, forecasts each series
    with at least min_train rows bitwise like a local fit, and the state it
    stores carries the fit's shape and coefficients."""
    from mpnsm_spark.functions.model_store import load_model_states, model_from_state
    from mpnsm_spark.plans.manager import run_manager
    from mpnsm_spark.plans.pipeline import PipelineConfig
    from mpnsm_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "wh"))
    config = [{"unit": {}, "horizon": 4,
               "targets": [{"target_col": "value", "model": {"n_changepoints": 2}}]}]
    kw = dict(group_columns=["conv_id"], cfg=PipelineConfig(num_buckets=4))
    out = (
        run_manager(spark, transcripts, io, config, **kw)
        .forecasts(spark, io)
        .toPandas()
        .sort_values(["_unit_id", "step"])
        .reset_index(drop=True)
    )
    run_manager(spark, transcripts, io, config, run_mode="fit", **kw)
    states = load_model_states(spark, io, "mgr_models_value").toPandas()
    states = states.set_index("_unit_id")
    local = (
        transcripts.select("conv_id", "turn_idx", "value")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
    )
    rows = []
    for conv, g in local.groupby("conv_id"):
        vals = g["value"].to_numpy(float)
        if len(vals) < 8:
            continue
        m = TrendSeasonalOLS(n_changepoints=2).fit(vals)
        rows += [(conv, i, p) for i, p in enumerate(m.predict(4), start=1)]
        st = states.loc[conv]
        assert st["n_train"] == len(vals)
        assert list(st["changepoints"]) == list(m.changepoints_)
        assert model_from_state(st.to_dict()).coefficients() == m.coefficients()
    want = pd.DataFrame(rows, columns=["_unit_id", "step", "yhat"])
    want = want.sort_values(["_unit_id", "step"]).reset_index(drop=True)
    assert len(out) == len(want) > 0
    assert len(states) == want["_unit_id"].nunique()
    assert (out["_unit_id"] == want["_unit_id"]).all()
    assert (out["yhat"].to_numpy() == want["yhat"].to_numpy()).all()
