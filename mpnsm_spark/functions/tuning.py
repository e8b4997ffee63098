"""Per-series hyperparameter search + CV scoring harness (in-UDF).

Reference parity — the reference's most-used entry after fit_predict:

- ladder/grid search with convergence early-stop:
  ``/root/reference/mpnsm/time_series/hyperparameter_tuning.py:174-304``
  (heuristic ladder), ``:338-527`` (grid), early-stop rules ``:96-145``;
- per-fold fit replay: ``forecast.py:707-758`` (``fit_predictCV``);
- cross-fold median/mode param chooser (SURVEY.md A8):
  ``hyperparameter_tuning.py:147-172``, ``deprecated/ts_model.py:838-849``.

Architecture: one numpy search core, :func:`search_series`, scores
candidates fold by fold on one series; grid, 1-D ladder and
coordinate-descent searches are its options. It runs INSIDE a per-series
grouped-map kernel — :func:`tune_per_series` here, or the manager's fit
kernel, which fits the winner in the same pass — exactly where the
reference runs it (inside each joblib worker), never spawning nested Spark
jobs. :func:`cv_fit_predict` is the fold replay without a chooser.
Forecasters are pluggable callables ``(train_values, horizon, param) ->
predictions``; the built-in surrogate (``last_w_mean``) is deterministic so
the driver oracle can replay the full search in ANSI SQL.

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


# ------------------------------------------------------------------ search


def expanding_cutoffs(
    n: int, n_folds: int, horizon: int, jump: int, min_train: int
) -> list[int]:
    """Expanding-CV train cutoffs (mirrors functions.cvsplits/expanding_folds
    and the reference's ``cross_validation.py:44-73``): fold f trains on the
    first ``n - horizon - f*jump`` rows, tests on the next ``horizon``."""
    cuts = [n - horizon - f * jump for f in range(n_folds)]
    return [c for c in cuts if c >= min_train]


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


def _mode(values) -> float:
    """Most frequent value, ties → smallest (scipy.stats.mode semantics)."""
    uniq, counts = np.unique(values, return_counts=True)
    return uniq[np.argmax(counts)]


def search_series(
    vals: np.ndarray,
    candidates,
    forecaster: Callable[[np.ndarray, int, object], np.ndarray] = last_w_mean,
    metric: str | Callable | Sequence[MetricSpec] = "wmape",
    chooser: str = "median",
    fold_choice: str = "best",
    patience: int | None = None,
    start: dict | None = None,
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
) -> tuple[dict[str, float], int] | None:
    """Hyperparameter search over one series' expanding-CV folds: the
    winning params (as floats) and the number of folds, or ``None`` when no
    fold has ``min_train`` train rows.

    ``candidates`` is a list of params, each handed as is to ``forecaster``
    — bare values (reported under the name ``"param"``) or dicts — or a
    dict of lists, expanded in ``ParameterGrid`` order
    (:func:`expand_param_grid`). Each fold walks the list, scoring every
    candidate on the fold's ``horizon`` test rows, and stops early
    (reference ``hyperparameter_tuning.py:96-145``):

    - when ``metric`` is a list of :class:`MetricSpec`, by the reference's
      tolerance rule on the last two candidates (:func:`ladder_converged`);
    - with ``patience``, after that many candidates in a row that do not
      beat the fold's best.

    The fold's winner is its best candidate by the first metric (ties →
    earliest) or, with ``fold_choice="penultimate"``, the candidate before
    the last one walked (the reference's choice: the last rung "may be
    significantly worse due to converge parameters"). ``chooser`` then
    takes per parameter the cross-fold ``median`` or ``mode`` (ties →
    smallest) of the fold winners (SURVEY A8), or ``global_min``: the
    candidate with the best score over every (fold, candidate) pair walked,
    ties → earliest candidate, then earliest fold (the reference's
    ``choose_best_param``, ``:366-389``).

    With ``start`` (a params dict), ``candidates`` is a dict of lists walked
    ONE parameter at a time, in its key order, from the current best
    configuration (coordinate descent, ``:174-304``): a rung's score is each
    metric's mean over all folds, and the rung winner is fixed before the
    next parameter; ``chooser`` does not apply.
    """
    if chooser not in ("median", "mode", "global_min"):
        raise ValueError(f"chooser must be median|mode|global_min, got {chooser!r}")
    if fold_choice not in ("best", "penultimate"):
        raise ValueError(f"fold_choice must be best|penultimate, got {fold_choice!r}")
    tolerance = not (isinstance(metric, str) or callable(metric))
    specs = list(metric) if tolerance else [MetricSpec(metric)]
    lead = specs[0]
    sign = -1.0 if lead.higher_better else 1.0
    folds = [
        (vals[:c], vals[c : c + horizon])
        for c in expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
    ]
    if not folds:
        return None

    def score(params, on) -> dict[str, float]:
        """Each metric of ``params``' forecasts, averaged over folds ``on``."""
        per_fold = []
        for train, test in on:
            preds = forecaster(train, horizon, params)
            per_fold.append([sp.fn(test, preds) for sp in specs])
        return {
            sp.name: s[0] if len(s) == 1 else float(np.mean(s))
            for sp, s in zip(specs, zip(*per_fold))
        }

    def walk(cands, on) -> tuple[int, list[dict[str, float]]]:
        """The winner's index in ``cands`` and the scores walked."""
        tried: list[dict[str, float]] = []
        for params in cands:
            tried.append(score(params, on))
            best = min(range(len(tried)), key=lambda i: sign * tried[i][lead.name])
            if len(tried) > 1 and (
                (tolerance and ladder_converged(tried[-2], tried[-1], specs))
                or (patience is not None and len(tried) - 1 - best >= max(patience, 1))
            ):
                break
        if fold_choice == "penultimate" and len(tried) > 1:
            return len(tried) - 2, tried
        return best, tried

    if start is not None:
        best = dict(start)
        for name, values in candidates.items():
            i, _ = walk([{**best, name: v} for v in values], folds)
            best[name] = float(values[i])
        return {name: best[name] for name in candidates}, len(folds)

    cands = (
        expand_param_grid(candidates) if isinstance(candidates, dict) else list(candidates)
    )
    named = [c if isinstance(c, dict) else {"param": c} for c in cands]
    walks = [walk(cands, [fold]) for fold in folds]
    if chooser == "global_min":
        _, ci, _ = min(
            (sign * s[lead.name], ci, fi)
            for fi, (_, tried) in enumerate(walks)
            for ci, s in enumerate(tried)
        )
        return {p: float(v) for p, v in named[ci].items()}, len(folds)
    pick = np.median if chooser == "median" else _mode
    won = [named[i] for i, _ in walks]
    return {p: float(pick([w[p] for w in won])) for p in won[0]}, len(folds)


def _per_series(df: DataFrame, fn, schema: str, key: str, order_col, value_col: str):
    """``fn(key value, ordered values)`` per series in one grouped-map pass."""
    order_cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]
    return apply_per_series(
        df.select(key, *order_cols, value_col),
        lambda pdf: fn(pdf[key].iat[0], pdf[value_col].to_numpy(np.float64)),
        schema,
        key=key,
        order_col=order_cols,
    )


def tune_per_series(
    df: DataFrame,
    candidates,
    forecaster: Callable[[np.ndarray, int, object], np.ndarray] = last_w_mean,
    key: str = "conv_id",
    order_col="turn_idx",
    value_col: str = "value",
    **search,
) -> DataFrame:
    """:func:`search_series` over every series of ``df`` (``value_col`` in
    ``order_col`` order) inside one grouped-map kernel — where the
    reference runs its search, in each joblib worker. ``search`` takes
    :func:`search_series`' keyword options, checked on the driver first.

    Output: one row per (series, parameter): (key, param, value double,
    folds_used int), the tall shape that keeps heterogeneous grids
    SQL-comparable; series without a valid fold emit nothing."""
    search_series(np.empty(0), candidates, forecaster, **search)

    def fn(key_val, vals: np.ndarray) -> pd.DataFrame:
        found = search_series(vals, candidates, forecaster, **search)
        if found is None:
            return pd.DataFrame()  # apply_per_series drops zero-row results
        chosen, folds = found
        names = sorted(chosen)
        return pd.DataFrame({
            key: key_val,
            "param": names,
            "value": [chosen[p] for p in names],
            "folds_used": np.full(len(names), folds, dtype=np.int32),
        })

    schema = f"{key} string, param string, value double, folds_used int"
    return _per_series(df, fn, schema, key, order_col, value_col)


def cv_fit_predict(
    df: DataFrame,
    param,
    forecaster: Callable[[np.ndarray, int, object], np.ndarray] = last_w_mean,
    n_folds: int = 3,
    horizon: int = 10,
    jump: int = 5,
    min_train: int = 5,
    key: str = "conv_id",
    order_col="turn_idx",
    value_col: str = "value",
    with_debug: bool = False,
) -> DataFrame:
    """The search's fold replay with no chooser (reference
    ``fit_predictCV``, ``forecast.py:707-758``): per fold, fit ``param`` on
    the train prefix and emit (key, fold, step, y, yhat) rows — the
    union-with-fold-column shape of ``forecast.py:753-756``.

    ``with_debug=True`` adds ``param`` (as a double) and ``cutoff`` (the
    fold's train length) to every row — the reference's debug-enriched
    output (``model.py:194-222``, ``deprecated/ts_model.py:1229-1254``)."""

    def fn(key_val, vals: np.ndarray) -> pd.DataFrame:
        cuts = expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
        folds = [
            pd.DataFrame({
                key: key_val,
                "fold": np.int32(f),
                "step": np.arange(horizon, dtype=np.int32),
                "y": vals[c : c + horizon],
                "yhat": forecaster(vals[:c], horizon, param),
                **({"param": float(param), "cutoff": np.int32(c)} if with_debug else {}),
            })
            for f, c in enumerate(cuts)
        ]
        return pd.concat(folds, ignore_index=True) if folds else pd.DataFrame()

    schema = f"{key} string, fold int, step int, y double, yhat double"
    if with_debug:
        schema += ", param double, cutoff int"
    return _per_series(df, fn, schema, key, order_col, value_col)
