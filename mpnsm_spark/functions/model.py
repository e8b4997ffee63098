"""Closed-form per-series trend + seasonal model — the engine's real fit.

Reference parity (semantics, not implementation — the reference fits Prophet):

- ``/root/reference/mpnsm/time_series/model.py:286-329`` ``set_changepoints``:
  changepoints are DETECTED from the train series (not evenly spaced),
  restricted to an interior margin — after an offset past the series start
  and before ``changepoint_range`` of the train span — with a configurable
  count and minimum distance.
- ``model.py:417-442`` ``fit``: set changepoints → fit the structural model →
  optional residual re-fit.
- ``model.py:331-415`` ``_fit_smooth`` (residual re-fit): the first fit's
  error ``yhat - y`` is future-filled (``'ffill' | 'zero' | 'mean'``),
  smoothed by a centered rolling mean, added as one more regressor, and the
  model is re-fit with it.
- defaults ``__init__.py:15-23``: flat growth, no default seasonality,
  no uncertainty sampling.

The structural model itself — piecewise-linear trend with hinge basis at the
changepoints plus Fourier seasonal terms plus user regressors — is exactly a
linear model, so this engine fits it in CLOSED FORM: one numpy
normal-equations solve per series inside the grouped-map kernel. No sampler,
no iterative optimizer, bit-deterministic. (Prophet's own point estimate for
this model class is the posterior mode of a linear-Gaussian model — OLS with
a ridge prior — so the closed form is the honest Spark-native equivalent,
not a toy.)

Deliberate divergences from the reference, documented:
- margins are expressed in ROW indices, not date offsets (tier rows are a
  fixed cadence, so an index margin IS a date margin);
- the residual re-fit's ``future='forecast'`` mode (a second Prophet fit on
  the residual) is not supported — ``ffill``/``zero``/``mean`` are; the
  model raises on ``'forecast'`` rather than silently substituting.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from mpnsm_spark.operators.outliers import changepoint_indices

__all__ = [
    "TrendSeasonalOLS",
    "design_matrix",
    "ols_forecaster",
    "linear_hinge_forecaster",
]


def _fourier_cols(t: np.ndarray, period: float, order: int) -> list[np.ndarray]:
    cols = []
    for k in range(1, order + 1):
        ang = 2.0 * np.pi * k * t / period
        cols.append(np.sin(ang))
        cols.append(np.cos(ang))
    return cols


def design_matrix(
    t: np.ndarray,
    n_train: int,
    changepoints: list[int],
    seasonality: tuple[tuple[float, int], ...] = (),
    extra: np.ndarray | None = None,
) -> np.ndarray:
    """Build the model's design matrix at (possibly future) integer times
    ``t``: intercept, scaled linear trend, one hinge ``max(0, t - cp)`` per
    changepoint (Prophet's piecewise-linear trend is exactly this spline
    basis), Fourier pairs per ``(period, order)``, then ``extra`` columns.

    Trend columns are scaled by the TRAIN length so future rows extrapolate
    the same basis (and the normal equations stay well-conditioned).
    """
    scale = float(max(n_train - 1, 1))
    cols = [np.ones_like(t, dtype=np.float64), t / scale]
    for cp in changepoints:
        cols.append(np.maximum(0.0, (t - cp) / scale))
    for period, order in seasonality:
        cols.extend(_fourier_cols(t, float(period), int(order)))
    X = np.column_stack(cols)
    if extra is not None:
        extra = np.asarray(extra, dtype=np.float64)
        if extra.ndim == 1:
            extra = extra[:, None]
        X = np.column_stack([X, extra])
    return X


def _solve_ridge(X: np.ndarray, y: np.ndarray, ridge: float) -> np.ndarray:
    """Normal equations with a tiny ridge on everything but the intercept —
    keeps the solve deterministic and non-singular when a hinge column is
    (near-)collinear with the trend."""
    XtX = X.T @ X
    if ridge > 0:
        damp = np.full(X.shape[1], ridge)
        damp[0] = 0.0
        XtX = XtX + np.diag(damp)
    return np.linalg.solve(XtX, X.T @ y)


@dataclass
class TrendSeasonalOLS:
    """Per-series changepoint-aware trend + seasonal regression.

    Parameters mirror the reference's knobs: ``n_changepoints`` /
    ``min_distance`` / ``changepoint_range`` (``set_changepoints``),
    ``seasonality`` as ``((period_rows, fourier_order), ...)``,
    ``fit_smooth`` + ``smooth_window`` + ``smooth_future``
    (``_fit_smooth``), ``ridge`` for the solve.
    """

    n_changepoints: int = 3
    min_distance: int = 3
    changepoint_range: float = 0.8
    seasonality: tuple[tuple[float, int], ...] = ()
    fit_smooth: bool = False
    smooth_window: int = 7
    smooth_future: str = "ffill"
    ridge: float = 1e-8

    # fitted state
    changepoints_: list[int] = field(default_factory=list, init=False)
    beta_: np.ndarray | None = field(default=None, init=False)
    n_train_: int = field(default=0, init=False)
    smooth_train_: np.ndarray | None = field(default=None, init=False)
    smooth_fill_: float = field(default=0.0, init=False)

    def coef_names(self) -> list[str]:
        names = ["intercept", "trend"]
        names += [f"hinge_{cp}" for cp in self.changepoints_]
        for period, order in self.seasonality:
            for k in range(1, int(order) + 1):
                names += [f"sin_{period:g}_{k}", f"cos_{period:g}_{k}"]
        if self.fit_smooth:
            names.append("smooth_error")
        return names

    def fit(self, y: np.ndarray, extra: np.ndarray | None = None) -> "TrendSeasonalOLS":
        if self.smooth_future not in ("ffill", "zero", "mean"):
            raise ValueError(
                "smooth_future must be ffill|zero|mean (the reference's "
                f"'forecast' mode is not supported), got {self.smooth_future!r}"
            )
        y = np.asarray(y, dtype=np.float64)
        n = self.n_train_ = len(y)
        t = np.arange(n, dtype=np.float64)
        # interior margin: after min_distance rows, before changepoint_range
        # of the span (set_changepoints' first/last_date_possible in rows)
        hi = int(np.ceil(n * self.changepoint_range))
        self.changepoints_, _ = changepoint_indices(
            y, self.n_changepoints, self.min_distance,
            lo=self.min_distance, hi=max(hi, self.min_distance),
        )
        self.changepoints_.sort()
        X = design_matrix(t, n, self.changepoints_, self.seasonality, extra)
        beta = _solve_ridge(X, y, self.ridge)
        if self.fit_smooth:
            # residual re-fit: smooth_error = yhat - y (reference sign),
            # centered rolling mean, re-enter as a regressor
            resid = X @ beta - y
            sm = (
                pd.Series(resid)
                .rolling(int(self.smooth_window), center=True, min_periods=1)
                .mean()
                .to_numpy()
            )
            self.smooth_train_ = sm
            self.smooth_fill_ = {
                "ffill": float(sm[-1]),
                "zero": 0.0,
                "mean": float(np.mean(sm)),
            }[self.smooth_future]
            X = np.column_stack([X, sm])
            beta = _solve_ridge(X, y, self.ridge)
        self.beta_ = beta
        return self

    def _design_at(
        self, t: np.ndarray, extra: np.ndarray | None, smooth: np.ndarray | None
    ) -> np.ndarray:
        X = design_matrix(
            t, self.n_train_, self.changepoints_, self.seasonality, extra
        )
        if self.fit_smooth:
            if smooth is None:
                smooth = np.full(len(t), self.smooth_fill_)
            X = np.column_stack([X, smooth])
        return X

    def predict_in_sample(self, extra: np.ndarray | None = None) -> np.ndarray:
        t = np.arange(self.n_train_, dtype=np.float64)
        return self._design_at(t, extra, self.smooth_train_) @ self.beta_

    def predict(self, horizon: int, extra: np.ndarray | None = None) -> np.ndarray:
        """Forecast ``horizon`` steps past the train end. Future rows carry
        the configured ``smooth_future`` fill for the residual regressor."""
        t = np.arange(
            self.n_train_, self.n_train_ + int(horizon), dtype=np.float64
        )
        return self._design_at(t, extra, None) @ self.beta_

    def coefficients(self) -> dict[str, float]:
        return dict(zip(self.coef_names(), map(float, self.beta_)))


_OLS_PARAM_KEYS = {
    "n_changepoints", "min_distance", "changepoint_range", "seasonality",
    "fit_smooth", "smooth_window", "smooth_future", "ridge",
}


def ols_forecaster(train: np.ndarray, horizon: int, param=None) -> np.ndarray:
    """Forecaster adapter for the search harness
    (``functions.tuning.search_series``, which the manager's tuning runs, and
    ``cv_fit_predict``): ``param`` is a dict of :class:`TrendSeasonalOLS`
    knobs (multi-parameter grids) or a bare number meaning
    ``n_changepoints``."""
    if param is None:
        kwargs = {}
    elif isinstance(param, dict):
        unknown = set(param) - _OLS_PARAM_KEYS
        if unknown:
            raise ValueError(f"unknown TrendSeasonalOLS params: {sorted(unknown)}")
        kwargs = dict(param)
        if "n_changepoints" in kwargs:
            kwargs["n_changepoints"] = int(kwargs["n_changepoints"])
        if "smooth_window" in kwargs:
            kwargs["smooth_window"] = int(kwargs["smooth_window"])
    else:
        kwargs = {"n_changepoints": int(param)}
    model = TrendSeasonalOLS(**kwargs)
    model.fit(np.asarray(train, dtype=np.float64))
    return model.predict(horizon)


def linear_hinge_forecaster(
    train: np.ndarray, horizon: int, knot_frac: float = 0.5
) -> np.ndarray:
    """Fixed 3-basis OLS (intercept, t, hinge at ``floor(n·knot_frac)``)
    solved by explicit Cramer's rule with the engine's decimal contract —
    every arithmetic op in a pinned order so an ANSI engine replays the fit
    bitwise (the driver's ``ols_forecast`` oracle).

    Integer sums (t, t², hinge moments) are exact in both engines; the y
    cross-moments use the exact-DECIMAL(20,6) quantization; the 3×3 solve
    and the prediction are then identical IEEE-double op sequences.
    """
    y = np.asarray(train, dtype=np.float64)
    n = len(y)
    k = int(np.floor(n * knot_frac))
    t = np.arange(n, dtype=np.int64)
    h = np.maximum(t - k, 0)
    y6 = np.where(y >= 0, np.floor(y * 1e6 + 0.5), np.ceil(y * 1e6 - 0.5)).astype(
        np.int64
    )
    # integer-exact Gram entries
    St, Stt = float(t.sum()), float((t * t).sum())
    Sh, Sth, Shh = float(h.sum()), float((t * h).sum()), float((h * h).sum())
    N = float(n)
    # decimal-exact y moments (int64 sums; magnitudes bounded by the 6dp
    # contract's DECIMAL(20,6) range)
    Sy = float(y6.sum()) / 1e6
    Sty = float((t * y6).sum()) / 1e6
    Shy = float((h * y6).sum()) / 1e6
    # Cramer's rule, fixed association (mirrored verbatim in SQL_OLS_FORECAST)
    det = (
        N * (Stt * Shh - Sth * Sth)
        - St * (St * Shh - Sth * Sh)
        + Sh * (St * Sth - Stt * Sh)
    )
    b0 = (
        Sy * (Stt * Shh - Sth * Sth)
        - St * (Sty * Shh - Sth * Shy)
        + Sh * (Sty * Sth - Stt * Shy)
    ) / det
    b1 = (
        N * (Sty * Shh - Sth * Shy)
        - Sy * (St * Shh - Sth * Sh)
        + Sh * (St * Shy - Sty * Sh)
    ) / det
    b2 = (
        N * (Stt * Shy - Sty * Sth)
        - St * (St * Shy - Sty * Sh)
        + Sy * (St * Sth - Stt * Sh)
    ) / det
    tf = np.arange(n, n + int(horizon), dtype=np.float64)
    return b0 + b1 * tf + b2 * np.maximum(tf - k, 0.0)
