"""Per-series hyperparameter search + CV scoring harness (in-UDF).

Reference parity — the reference's most-used entry after fit_predict:

- ladder/grid search with convergence early-stop:
  ``/root/reference/mpnsm/time_series/hyperparameter_tuning.py:174-304``
  (heuristic ladder), ``:338-527`` (grid), early-stop rules ``:96-145``;
- per-fold fit replay: ``forecast.py:707-758`` (``fit_predictCV``);
- cross-fold median/mode param chooser (SURVEY.md A8):
  ``hyperparameter_tuning.py:147-172``, ``deprecated/ts_model.py:838-849``.

Architecture: the whole search loop runs INSIDE the per-series grouped-map
kernel (``apply_per_series``) — exactly where the reference runs it (inside
each joblib worker), never spawning nested Spark jobs. Forecasters are
pluggable callables ``(train_values, horizon, param) -> predictions``; the
built-in surrogate (``last_w_mean``) is deterministic so the driver oracle
can replay the full search in ANSI SQL.

Cross-engine float contract: scores use the same exact-DECIMAL(20,6)
quantization the SQL oracles use (``_q6``: half-away-from-zero at 6dp, exact
integer sums) so a DuckDB replay of the search is bitwise identical.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mpnsm_spark.operators.skew import apply_per_series


# ---------------------------------------------------- decimal-exact kernels


def _q6(x: np.ndarray) -> np.ndarray:
    """DECIMAL(20,6) quantization: half-away-from-zero at 6dp, as int64."""
    x = np.asarray(x, dtype=np.float64)
    return np.where(x >= 0, np.floor(x * 1e6 + 0.5), np.ceil(x * 1e6 - 0.5)).astype(
        np.int64
    )


def dec_mean(vals: np.ndarray) -> float:
    """``CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) / count(*)`` twin."""
    return (_q6(vals).sum() / 1e6) / len(vals)


def wmape(y: np.ndarray, yhat: np.ndarray) -> float:
    """Σ|y-ŷ| / Σ|y| with the decimal-sum contract (oracle-replayable).
    The reference's WMAPE / 'weighted' error kernel
    (``metrics.py:249-283``, ``deprecated/ts_utils.py:241-247``)."""
    num = _q6(np.abs(np.asarray(y) - np.asarray(yhat))).sum() / 1e6
    den = _q6(np.abs(np.asarray(y))).sum() / 1e6
    return num / den if den != 0 else float("inf")


def mean_abs_pct(y: np.ndarray, yhat: np.ndarray) -> float:
    """mean(|y-ŷ| / |y|) — the reference's ``mean_abs_pct`` kernel
    (``deprecated/ts_utils.py:244-245``). Ratios are plain IEEE doubles (both
    engines read identical inputs and divide identically); only the MEAN uses
    the dec-sum order via an exact sum of 6dp-quantized ratios so a DuckDB
    replay is bitwise."""
    y = np.asarray(y, dtype=np.float64)
    r = np.abs(y - np.asarray(yhat)) / np.abs(y)
    return _q6(r).sum() / 1e6 / len(r)


def median_abs_pct(y: np.ndarray, yhat: np.ndarray) -> float:
    """median(|y-ŷ| / |y|) (``deprecated/ts_utils.py:246-247``). The even-n
    midpoint is computed as ``(a + b) / 2`` — exactly the SQL twin's
    ``sum(middle two) / 2`` — so the replay is bitwise."""
    y = np.asarray(y, dtype=np.float64)
    r = np.sort(np.abs(y - np.asarray(yhat)) / np.abs(y))
    n = len(r)
    mid = n // 2
    return float(r[mid]) if n % 2 else float((r[mid - 1] + r[mid]) / 2.0)


METRICS: dict[str, Callable] = {
    "wmape": wmape,
    "mean_abs_pct": mean_abs_pct,
    "median_abs_pct": median_abs_pct,
}


# ------------------------------------------------- ladder + convergence rules


def make_ladder(
    initial: float,
    final: float,
    step: float,
    mode: str = "additive",
    max_rungs: int = 10_000,
) -> list[float]:
    """Generate the heuristic search ladder from a base value (reference
    ``hyperparameter_tuning.py:201-225``).

    - ``additive``: arithmetic walk ``initial, initial±step, ...`` up to (not
      including) ``final`` — ascending or descending by the sign of
      ``final - initial``.
    - ``multiplicative``: geometric walk with ratio ``step`` (> 1) from
      ``initial`` toward ``final``; the first value at or past ``final`` is
      included (the reference stops after overshooting). Descending inputs
      walk down by dividing.

    Deliberate divergence from the reference: its multiplicative branch emits
    the initial value twice (``values=[v0]`` then appends ``v0*step**0``); we
    emit each rung once — the duplicate is a no-op for the search (same score,
    never chosen differently) but wastes a fit per fold.
    """
    if mode == "additive":
        if step <= 0:
            raise ValueError("additive ladder needs step > 0")
        if abs(final - initial) / step > max_rungs:
            raise ValueError(
                f"additive ladder would have >{max_rungs} rungs "
                f"({initial}..{final} step {step}); a per-fold fit runs per "
                "rung — this is a misconfiguration, not a search"
            )
        sgn = 1.0 if final >= initial else -1.0
        # Generate by integer index, not np.arange: arange's float
        # accumulation can land EXACTLY on `final` (e.g. 0.1..0.4 step 0.1
        # emits 0.4), violating the documented exclusive upper bound
        # (ADVICE r3). n = count of i with i*step strictly inside the span,
        # with a relative eps so "lands on final within float error" counts
        # as reaching it, and a final belt-and-braces filter for any rung
        # within eps of `final`.
        span = abs(final - initial)
        q = span / step
        n = int(np.ceil(q - 1e-9 * max(1.0, q)))
        veps = 1e-9 * max(1.0, span, abs(final))
        vals = [float(initial + i * sgn * step) for i in range(max(n, 0))]
        return [v for v in vals if abs(v - final) > veps]
    if mode != "multiplicative":
        raise ValueError(f"mode must be additive|multiplicative, got {mode!r}")
    if step <= 1 or initial == 0 or final == 0:
        raise ValueError("multiplicative ladder needs step > 1 and nonzero ends")
    out = [float(initial)]
    if final >= initial:
        while out[-1] < final:
            if len(out) > max_rungs:
                raise ValueError(f"multiplicative ladder exceeds {max_rungs} rungs")
            out.append(out[-1] * step)
    else:
        while out[-1] > final:
            if len(out) > max_rungs:
                raise ValueError(f"multiplicative ladder exceeds {max_rungs} rungs")
            out.append(out[-1] / step)
    return out


class MetricSpec:
    """A metric with the reference's per-metric convergence tolerances
    (``metrics.py:107-118``): ``max_worse`` = largest tolerated regression
    before the search aborts a ladder, ``min_better`` = smallest gain that
    still counts as an improvement."""

    def __init__(
        self,
        fn: Callable | str = "wmape",
        higher_better: bool = False,
        max_worse: float = 0.05,
        min_better: float = 0.05,
        name: str | None = None,
    ):
        self.fn = METRICS[fn] if isinstance(fn, str) else fn
        self.higher_better = higher_better
        self.max_worse = float(max_worse)
        self.min_better = float(min_better)
        self.name = name or getattr(fn, "__name__", str(fn))


def ladder_converged(prev: dict[str, float], new: dict[str, float], specs) -> bool:
    """The reference's two-value convergence rule
    (``hyperparameter_tuning.py:96-145``), comparing the LAST TWO ladder
    rungs' scores per metric:

    - any metric worse than ``prev`` by more than its ``max_worse`` →
      converged immediately;
    - otherwise converged iff NO metric improved by at least its
      ``min_better``.
    """
    improved = 0
    for spec in specs:
        p, n = prev[spec.name], new[spec.name]
        if spec.higher_better:
            if n >= p + spec.min_better:
                improved += 1
            elif n < p - spec.max_worse:
                return True
        else:
            if n <= p - spec.min_better:
                improved += 1
            elif n > p + spec.max_worse:
                return True
    return improved == 0


# ------------------------------------------------------------- forecasters


def last_w_mean(train: np.ndarray, horizon: int, w) -> np.ndarray:
    """Constant forecast = decimal-exact mean of the last ``w`` train points
    (the deterministic surrogate model for the search harness)."""
    w = int(w)
    return np.full(horizon, dec_mean(train[-w:] if w < len(train) else train))


def locf(train: np.ndarray, horizon: int, _param=None) -> np.ndarray:
    return np.full(horizon, float(train[-1]))


# ------------------------------------------------------------ fold machinery


def expanding_cutoffs(
    n: int, n_folds: int, horizon: int, jump: int, min_train: int
) -> list[int]:
    """Expanding-CV train cutoffs (mirrors functions.cvsplits/expanding_folds
    and the reference's ``cross_validation.py:44-73``): fold f trains on the
    first ``n - horizon - f*jump`` rows, tests on the next ``horizon``."""
    cuts = [n - horizon - f * jump for f in range(n_folds)]
    return [c for c in cuts if c >= min_train]


TUNE_SCHEMA = "conv_id string, chosen_param double, folds_used int"


def tune_per_series(
    df: DataFrame,
    param_grid: Sequence,
    forecaster: Callable[[np.ndarray, int, object], np.ndarray] = last_w_mean,
    metric: str | Callable = "wmape",
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
    chooser: str = "median",
    ladder_early_stop: bool = False,
    patience: int = 2,
    metric_specs: Sequence[MetricSpec] | None = None,
    fold_choice: str = "best",
) -> DataFrame:
    """Grid/ladder hyperparameter search per series over expanding CV folds.

    Per fold: replay ``forecaster`` for every param on the fold's train
    prefix, score the ``horizon`` test points with ``metric``, keep the best
    param (ties → earliest in ``param_grid``). The final param is the
    cross-fold ``median`` (numeric) or ``mode`` (ties → smallest) — SURVEY A8.

    Early-stop modes (reference ``hyperparameter_tuning.py:96-145``):

    - default: exhaustive grid (oracle-replayable);
    - ``ladder_early_stop=True`` without ``metric_specs``: simple patience
      rule (stop after ``patience`` consecutive non-improving params);
    - ``metric_specs=[MetricSpec(...), ...]``: the reference's per-metric
      tolerance rule — walking the ladder stops at the first rung where any
      metric regresses beyond its ``max_worse`` or no metric improves by its
      ``min_better`` (see :func:`ladder_converged`). With
      ``fold_choice="penultimate"`` the fold's winner is the rung BEFORE the
      convergence stop (the reference's chooser: the last rung "may be
      significantly worse due to converge parameters"); ``"best"`` keeps the
      argmin/argmax of the first metric.

    Output: (key, chosen_param double, folds_used int); series with zero
    valid folds emit nothing.
    """
    metric_fn = METRICS[metric] if isinstance(metric, str) else metric
    specs = list(metric_specs) if metric_specs else None
    grid = list(param_grid)
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]

    def fold_best(train, test) -> float:
        if specs is None:
            best_s, best_p, streak = None, None, 0
            for p in grid:
                s = metric_fn(test, forecaster(train, horizon, p))
                if best_s is None or s < best_s:
                    best_s, best_p, streak = s, p, 0
                elif ladder_early_stop:
                    streak += 1
                    if streak >= patience:
                        break
            return float(best_p)
        # tolerance-rule ladder walk
        tried: list[tuple[float, dict[str, float]]] = []
        for p in grid:
            preds = forecaster(train, horizon, p)
            scores = {sp.name: sp.fn(test, preds) for sp in specs}
            tried.append((float(p), scores))
            if len(tried) >= 2 and ladder_converged(tried[-2][1], scores, specs):
                break
        if fold_choice == "penultimate" and len(tried) >= 2:
            return tried[-2][0]
        lead = specs[0]
        keyfn = (lambda t: -t[1][lead.name]) if lead.higher_better else (
            lambda t: t[1][lead.name]
        )
        return min(tried, key=keyfn)[0]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        n = len(vals)
        best_params: list[float] = []
        for cutoff in expanding_cutoffs(n, n_folds, horizon, jump, min_train):
            train, test = vals[:cutoff], vals[cutoff : cutoff + horizon]
            best_params.append(fold_best(train, test))
        if not best_params:
            return pd.DataFrame(
                {"conv_id": [], "chosen_param": [], "folds_used": []}
            ).astype({"chosen_param": float, "folds_used": "int32"})
        if chooser == "median":
            chosen = float(np.median(best_params))
        else:  # mode, ties -> smallest (scipy.stats.mode semantics)
            uniq, counts = np.unique(best_params, return_counts=True)
            chosen = float(uniq[np.argmax(counts)])
        return pd.DataFrame(
            {
                "conv_id": [pdf[key].iloc[0]],
                "chosen_param": [chosen],
                "folds_used": np.array([len(best_params)], dtype=np.int32),
            }
        )

    return apply_per_series(
        df.select(key, *order_cols, value_col),
        kernel,
        TUNE_SCHEMA,
        key=key,
        order_col=order_cols,
    )


# ------------------------------------------------- multi-parameter search


def expand_param_grid(grid: dict[str, Sequence]) -> list[dict]:
    """Dict-of-lists → list of param dicts with sklearn ``ParameterGrid``
    iteration semantics (reference ``hyperparameter_tuning.py:447``): keys
    sorted, cartesian product, LAST key varying fastest. The order matters —
    ties in the search resolve to the earliest combination."""
    import itertools

    keys = sorted(grid)
    return [
        dict(zip(keys, combo))
        for combo in itertools.product(*(list(grid[k]) for k in keys))
    ]


TUNE_PARAMS_SCHEMA = "conv_id string, param string, value double, folds_used int"


def _params_out(key_val, chosen: dict, folds: int) -> pd.DataFrame:
    names = sorted(chosen)
    return pd.DataFrame(
        {
            "conv_id": [key_val] * len(names),
            "param": names,
            "value": [float(chosen[p]) for p in names],
            "folds_used": np.full(len(names), folds, dtype=np.int32),
        }
    )


def _empty_params_out() -> pd.DataFrame:
    return pd.DataFrame(
        {"conv_id": [], "param": [], "value": [], "folds_used": []}
    ).astype({"value": float, "folds_used": "int32"})


def tune_grid_per_series(
    df: DataFrame,
    param_grid: dict[str, Sequence],
    forecaster: Callable[[np.ndarray, int, dict], np.ndarray],
    metric: str | Callable = "wmape",
    chooser: str = "global_min",
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
) -> DataFrame:
    """Multi-parameter exhaustive grid search per series (reference
    ``ParameterGridHyperparameterTuning``, ``hyperparameter_tuning.py:
    338-527``): every combination scored on every expanding-CV fold.

    Choosers:

    - ``"global_min"`` — the reference's ``choose_best_param`` (``:366-389``):
      ONE winning combination, the global argmin of the metric over all
      (fold, combination) pairs; ties → earliest combination in
      ``ParameterGrid`` order, then earliest fold.
    - ``"median"`` — per fold pick the best combination, then per PARAMETER
      take the cross-fold median (the engine's A8 chooser lifted to dicts).

    Output: one row per (series, parameter name): (key, param, value,
    folds_used) — tall shape so heterogeneous grids stay SQL-comparable.
    """
    metric_fn = METRICS[metric] if isinstance(metric, str) else metric
    combos = expand_param_grid(param_grid)
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        cutoffs = expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
        if not cutoffs:
            return _empty_params_out()
        scores = np.empty((len(cutoffs), len(combos)))
        for fi, cutoff in enumerate(cutoffs):
            train, test = vals[:cutoff], vals[cutoff : cutoff + horizon]
            for ci, combo in enumerate(combos):
                scores[fi, ci] = metric_fn(test, forecaster(train, horizon, combo))
        if chooser == "global_min":
            # argmin over (fold, combo); ties -> earliest combo, then fold
            flat_ci = int(
                np.lexsort((np.repeat(range(len(cutoffs)), len(combos)),
                            np.tile(range(len(combos)), len(cutoffs)),
                            scores.ravel()))[0]
            ) % len(combos)
            chosen = combos[flat_ci]
        elif chooser == "median":
            best_per_fold = [combos[int(np.argmin(row))] for row in scores]
            chosen = {
                p: float(np.median([b[p] for b in best_per_fold]))
                for p in param_grid
            }
        else:
            raise ValueError(f"chooser must be global_min|median, got {chooser!r}")
        return _params_out(pdf[key].iloc[0], chosen, len(cutoffs))

    return apply_per_series(
        df.select(key, *order_cols, value_col),
        kernel,
        TUNE_PARAMS_SCHEMA,
        key=key,
        order_col=order_cols,
    )


def tune_ladder_per_series(
    df: DataFrame,
    ladder_specs: Sequence[dict],
    forecaster: Callable[[np.ndarray, int, dict], np.ndarray],
    base_params: dict | None = None,
    metric_specs: Sequence[MetricSpec] | None = None,
    fold_agg: str = "mean",
    fold_choice: str = "penultimate",
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
) -> DataFrame:
    """Per-parameter heuristic ladders with the OTHERS FIXED — the
    reference's coordinate-descent tuner (``hyperparameter_tuning.py:
    174-304``: ``optimize`` walks ``self.hyperparams`` in declaration order,
    each ``optimize_hyperparameter`` laddering ONE param from the current
    best configuration and fixing its winner before the next param).

    ``ladder_specs``: ordered dicts ``{"name", "initial", "final", "step",
    "mode"}`` (``make_ladder`` args). Per rung, fold scores are aggregated by
    ``fold_agg`` (``mean``/``median``) per metric; the walk stops by the
    reference's two-rung tolerance rule (:func:`ladder_converged` over
    ``metric_specs``, default a single WMAPE spec); the rung winner is the
    ``penultimate`` (reference chooser) or ``best`` rung.

    Output: tall (key, param, value, folds_used) rows — one per tuned param.
    """
    specs = list(metric_specs) if metric_specs else [MetricSpec("wmape")]
    if fold_agg not in ("mean", "median"):
        raise ValueError(f"fold_agg must be mean|median, got {fold_agg!r}")
    agg = np.mean if fold_agg == "mean" else np.median
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]
    base = dict(base_params or {})
    ladders = [
        (sp["name"], make_ladder(sp["initial"], sp["final"], sp["step"],
                                 sp.get("mode", "additive")))
        for sp in ladder_specs
    ]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        cutoffs = expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
        if not cutoffs:
            return _empty_params_out()
        folds = [
            (vals[:c], vals[c : c + horizon]) for c in cutoffs
        ]

        def rung_scores(params: dict) -> dict[str, float]:
            per_fold = {sp.name: [] for sp in specs}
            for train, test in folds:
                preds = forecaster(train, horizon, params)
                for sp in specs:
                    per_fold[sp.name].append(sp.fn(test, preds))
            return {name: float(agg(v)) for name, v in per_fold.items()}

        best = dict(base)
        for name, ladder in ladders:
            tried: list[tuple[float, dict[str, float]]] = []
            for v in ladder:
                s = rung_scores({**best, name: v})
                tried.append((float(v), s))
                if len(tried) >= 2 and ladder_converged(tried[-2][1], s, specs):
                    break
            if fold_choice == "penultimate" and len(tried) >= 2:
                best[name] = tried[-2][0]
            else:
                lead = specs[0]
                keyfn = (
                    (lambda t: -t[1][lead.name])
                    if lead.higher_better
                    else (lambda t: t[1][lead.name])
                )
                best[name] = min(tried, key=keyfn)[0]
        tuned = {name: best[name] for name, _ in ladders}
        return _params_out(pdf[key].iloc[0], tuned, len(cutoffs))

    return apply_per_series(
        df.select(key, *order_cols, value_col),
        kernel,
        TUNE_PARAMS_SCHEMA,
        key=key,
        order_col=order_cols,
    )


CV_PRED_SCHEMA = (
    "conv_id string, fold int, step int, y double, yhat double"
)


def cv_fit_predict(
    df: DataFrame,
    param,
    forecaster: Callable[[np.ndarray, int, object], np.ndarray] = last_w_mean,
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "value",
    with_debug: bool = False,
) -> DataFrame:
    """Fold replay (reference ``fit_predictCV``): per fold, fit on the train
    prefix and emit (fold, step, y, yhat) rows — the union-with-fold-column
    shape the reference produces (``forecast.py:753-756``).

    ``with_debug=True`` enriches every row with the fit's parameters —
    ``param`` (the hyperparameter the fold fitted with) and ``cutoff`` (the
    fold's train length) — the reference's coefficient/debug-enriched output
    contract (``model.py:194-222``, ``deprecated/ts_model.py:1229-1254``)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        cols = ["conv_id", "fold", "step", "y", "yhat"] + (
            ["param", "cutoff"] if with_debug else []
        )
        rows = {c: [] for c in cols}
        for f, cutoff in enumerate(
            expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
        ):
            preds = forecaster(vals[:cutoff], horizon, param)
            test = vals[cutoff : cutoff + horizon]
            for i, (y, yh) in enumerate(zip(test, preds)):
                rows["conv_id"].append(pdf[key].iloc[0])
                rows["fold"].append(f)
                rows["step"].append(i)
                rows["y"].append(float(y))
                rows["yhat"].append(float(yh))
                if with_debug:
                    rows["param"].append(float(param))
                    rows["cutoff"].append(cutoff)
        out = pd.DataFrame(rows).astype({"fold": "int32", "step": "int32"})
        return out.astype({"cutoff": "int32"}) if with_debug else out

    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]
    return apply_per_series(
        df.select(key, *order_cols, value_col),
        kernel,
        CV_PRED_SCHEMA + ", param double, cutoff int" if with_debug else CV_PRED_SCHEMA,
        key=key,
        order_col=order_cols,
    )
