"""Hyperparameter/CV search harness: pandas-oracle parity, fold replay,
ladder early-stop, per-series error isolation, S5 partitioned read."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.functions.tuning import (
    cv_fit_predict,
    dec_mean,
    expanding_cutoffs,
    last_w_mean,
    tune_per_series,
    wmape,
)


@pytest.fixture(scope="module")
def series_df(spark):
    """60 deterministic seeded series with different noise regimes so the
    best window differs per series."""
    rng = np.random.default_rng(11)
    rows = []
    for s in range(60):
        n = 40 + (s % 4) * 10
        base = rng.normal(100, 5 + (s % 3) * 20, n)
        if s % 2:  # trending series favour small windows
            base = base + np.arange(n) * 2.0
        for i, v in enumerate(np.round(base, 3)):
            rows.append((f"s{s:03d}", i, float(v)))
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")


def _pandas_tune(pdf, grid, n_folds=3, horizon=10, jump=5, min_train=5):
    """Independent pandas re-implementation of the search."""
    out = {}
    for conv, g in pdf.groupby("conv_id"):
        vals = g.sort_values("turn_idx")["value"].to_numpy()
        best = []
        for cutoff in expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train):
            train, test = vals[:cutoff], vals[cutoff : cutoff + horizon]
            scores = [
                (wmape(test, last_w_mean(train, horizon, w)), w) for w in grid
            ]
            smin = min(s for s, _ in scores)
            best.append(float(next(w for s, w in scores if s == smin)))
        if best:
            out[conv] = (float(np.median(best)), len(best))
    return out


def test_tune_matches_pandas_oracle(spark, series_df):
    got = tune_per_series(series_df, param_grid=[1, 2, 4, 8]).toPandas()
    want = _pandas_tune(series_df.toPandas(), [1, 2, 4, 8])
    assert len(got) == len(want)
    for r in got.itertuples(index=False):
        w_chosen, w_folds = want[r.conv_id]
        assert (r.chosen_param, r.folds_used) == (w_chosen, w_folds), r.conv_id
    # the search is non-degenerate: different series choose different params
    assert got["chosen_param"].nunique() > 1


def test_tune_mode_chooser(spark, series_df):
    got = tune_per_series(
        series_df, param_grid=[1, 2, 4, 8], chooser="mode"
    ).toPandas()
    assert set(got["chosen_param"]).issubset({1.0, 2.0, 4.0, 8.0})


def test_ladder_early_stop_prefix_property(spark, series_df):
    """Early-stop evaluates a prefix of the grid: with patience >= grid size
    it equals the exhaustive search."""
    a = tune_per_series(
        series_df, param_grid=[1, 2, 4, 8], ladder_early_stop=True, patience=8
    ).toPandas().sort_values("conv_id").reset_index(drop=True)
    b = tune_per_series(series_df, param_grid=[1, 2, 4, 8]).toPandas().sort_values(
        "conv_id"
    ).reset_index(drop=True)
    assert a.equals(b)
    # with patience=1 the search still returns a valid grid member per series
    c = tune_per_series(
        series_df, param_grid=[1, 2, 4, 8], ladder_early_stop=True, patience=1
    ).toPandas()
    assert set(c["chosen_param"]).issubset({1.0, 1.5, 2.0, 3.0, 4.0, 6.0, 8.0})


def test_cv_fit_predict_fold_replay(spark, series_df):
    preds = cv_fit_predict(series_df, param=4).toPandas()
    pdf = series_df.toPandas()
    # spot-check one series: yhat is the decimal-exact last-4 mean per fold
    conv = "s000"
    vals = pdf[pdf.conv_id == conv].sort_values("turn_idx")["value"].to_numpy()
    sub = preds[preds.conv_id == conv]
    for f, cutoff in enumerate(expanding_cutoffs(len(vals), 3, 10, 5, 5)):
        fold_rows = sub[sub.fold == f].sort_values("step")
        assert len(fold_rows) == 10
        assert (fold_rows["yhat"] == dec_mean(vals[cutoff - 4 : cutoff])).all()
        assert np.array_equal(
            fold_rows["y"].to_numpy(), vals[cutoff : cutoff + 10]
        )


def test_per_series_error_isolation(spark, series_df):
    """A poison series fails alone: on_error='mark' completes the job with
    ONE error marker row naming the series and exception class; healthy
    series are untouched (reference deprecated/ts_model.py:1258-1260)."""
    from mpnsm_spark.operators.skew import apply_per_series

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["conv_id"].iloc[0] == "s007":
            raise RuntimeError("poison series")
        return pd.DataFrame(
            {"conv_id": [pdf["conv_id"].iloc[0]], "n": [len(pdf)]}
        )

    out = apply_per_series(
        series_df,
        kernel,
        "conv_id string, n long",
        on_error="mark",
    ).toPandas()
    err = out[out["_status"] == "error"]
    assert err[["conv_id", "_error"]].values.tolist() == [["s007", "RuntimeError"]]
    ok = out[out["_status"] == "ok"]
    assert "s007" not in set(ok["conv_id"])
    assert len(ok) == ok["conv_id"].nunique() == 59

    with pytest.raises(Exception, match="poison"):
        apply_per_series(series_df, kernel, "conv_id string, n long").count()


def test_read_partitioned_concat_semantics(spark, tmp_path):
    """S5 parity (reference tests/extras/datasets/test_concatened_dataset.py:
    42-167): load=concat of selected partitions; regex and callable filters;
    per-partition preprocess; zero partitions -> error."""
    from mpnsm_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(g, i, float(i * 10)) for g in ("a", "b", "c") for i in range(4)],
        "grp string, i int, v double",
    )
    io.append(df, "t", partition_by=["grp"])
    assert io.partitions("t") == ["grp=a", "grp=b", "grp=c"]

    full = io.read_partitioned(spark, "t").toPandas()
    assert len(full) == 12 and set(full["grp"]) == {"a", "b", "c"}

    ab = io.read_partitioned(spark, "t", partition_filter="grp=[ab]").toPandas()
    assert set(ab["grp"]) == {"a", "b"} and len(ab) == 8

    c_only = io.read_partitioned(
        spark, "t", partition_filter=lambda p: p.endswith("=c")
    ).toPandas()
    assert set(c_only["grp"]) == {"c"}

    boosted = io.read_partitioned(
        spark,
        "t",
        partition_filter="grp=[ab]",
        preprocess=lambda d, p: d.withColumn(
            "v", F.col("v") + (100 if p == "grp=a" else 200)
        ),
    ).toPandas()
    assert boosted[boosted.grp == "a"]["v"].min() == 100.0
    assert boosted[boosted.grp == "b"]["v"].min() == 200.0

    with pytest.raises(ValueError, match="zero partitions"):
        io.read_partitioned(spark, "t", partition_filter="grp=z")


def test_residual_intervals_coverage(spark, series_df):
    """[q10,q90] residual intervals cover ~80% of scored points by
    construction on each series."""
    from pyspark.sql import Window

    from mpnsm_spark.operators.uncertainty import interval_coverage, residual_intervals

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    scored = (
        series_df.withColumn("yhat", F.lag("value").over(w))
        .filter(F.col("yhat").isNotNull())
        .select("conv_id", F.col("value").alias("y"), "yhat")
    )
    cov = interval_coverage(residual_intervals(scored)).toPandas()
    assert len(cov) == 60
    assert ((cov["coverage"] >= 0.7) & (cov["coverage"] <= 0.95)).all()
    assert (cov["mean_width"] > 0).all()


def test_stepwise_predict_matches_closed_form(spark, series_df):
    """Stepwise walk vs the closed-form recurrence: a_k converges toward the
    train mean; b_k blends a's same-step prediction (cross-target feedback)."""
    from mpnsm_spark.operators.forecast import stepwise_predict
    from mpnsm_spark.functions.tuning import dec_mean

    two = series_df.withColumn("b", F.col("value") * 2.0).withColumnRenamed(
        "value", "a"
    )
    got = stepwise_predict(two, horizon=5, a_col="a", b_col="b").toPandas()
    pdf = two.toPandas()
    assert set(got["conv_id"]) == set(pdf["conv_id"])
    for conv in ("s000", "s031"):
        g = pdf[pdf.conv_id == conv].sort_values("turn_idx")
        a = g["a"].to_numpy()
        mean_a = dec_mean(a)
        ya, yb = float(a[-1]), float(g["b"].iloc[-1])
        sub = got[got.conv_id == conv].sort_values("step")
        for k in range(5):
            ya = (ya + mean_a) * 0.5
            yb = yb * 0.7 + ya * 0.3
            assert sub["yhat_a"].iloc[k] == ya
            assert sub["yhat_b"].iloc[k] == yb
        # convergence toward the mean: |a_k - mean| halves each step
        resid = (sub["yhat_a"] - mean_a).abs().to_numpy()
        assert (resid[1:] <= resid[:-1] * 0.5 + 1e-9).all()


# ----------------------------------------------- ladder + tolerance rules ---


def test_make_ladder_values():
    from mpnsm_spark.functions.tuning import make_ladder

    assert make_ladder(1, 10, 2, "additive") == [1.0, 3.0, 5.0, 7.0, 9.0]
    assert make_ladder(10, 1, 3, "additive") == [10.0, 7.0, 4.0]
    assert make_ladder(1, 16, 2, "multiplicative") == [1.0, 2.0, 4.0, 8.0, 16.0]
    # overshoot: first rung at/past final is included, then stop
    assert make_ladder(1, 10, 3, "multiplicative") == [1.0, 3.0, 9.0, 27.0]
    assert make_ladder(16, 1, 4, "multiplicative") == [16.0, 4.0, 1.0]
    with pytest.raises(ValueError):
        make_ladder(1, 10, 1.0, "multiplicative")
    with pytest.raises(ValueError):
        make_ladder(1, 10, 2, "bogus")


def test_ladder_converged_rule_table():
    """Truth table for the reference's two-rung convergence rule
    (hyperparameter_tuning.py:96-145)."""
    from mpnsm_spark.functions.tuning import MetricSpec, ladder_converged

    lower = [MetricSpec(lambda y, yh: 0.0, higher_better=False,
                        max_worse=0.05, min_better=0.01, name="m")]
    # improved by >= min_better -> keep walking
    assert not ladder_converged({"m": 0.50}, {"m": 0.48}, lower)
    # regressed beyond max_worse -> stop immediately
    assert ladder_converged({"m": 0.50}, {"m": 0.56}, lower)
    # flat (no metric improved enough) -> stop
    assert ladder_converged({"m": 0.50}, {"m": 0.495}, lower)
    higher = [MetricSpec(lambda y, yh: 0.0, higher_better=True,
                         max_worse=0.05, min_better=0.01, name="m")]
    assert not ladder_converged({"m": 0.50}, {"m": 0.52}, higher)
    assert ladder_converged({"m": 0.50}, {"m": 0.44}, higher)
    # multi-metric: ONE improving metric keeps the walk alive
    two = [
        MetricSpec(lambda y, yh: 0.0, False, 0.05, 0.01, name="a"),
        MetricSpec(lambda y, yh: 0.0, False, 0.05, 0.01, name="b"),
    ]
    assert not ladder_converged({"a": 0.5, "b": 0.5}, {"a": 0.5, "b": 0.45}, two)
    # ...unless another metric blows through max_worse
    assert ladder_converged({"a": 0.5, "b": 0.5}, {"a": 0.56, "b": 0.45}, two)


def _pandas_tolerance_tune(pdf, grid, specs, fold_choice="penultimate",
                           n_folds=3, horizon=10, jump=5, min_train=5):
    """Independent pandas replay of the reference tolerance-ladder rules:
    walk rungs, stop per ladder_converged semantics (re-derived here from
    hyperparameter_tuning.py:96-145, NOT imported), pick the pre-stop rung,
    median across folds."""
    out = {}
    for conv, g in pdf.groupby("conv_id"):
        vals = g.sort_values("turn_idx")["value"].to_numpy()
        best = []
        for cutoff in expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train):
            train, test = vals[:cutoff], vals[cutoff : cutoff + horizon]
            tried = []
            for p in grid:
                preds = last_w_mean(train, horizon, p)
                scores = {sp.name: sp.fn(test, preds) for sp in specs}
                tried.append((float(p), scores))
                if len(tried) >= 2:
                    prev, new = tried[-2][1], scores
                    improved, aborted = 0, False
                    for sp in specs:
                        if sp.higher_better:
                            if new[sp.name] >= prev[sp.name] + sp.min_better:
                                improved += 1
                            elif new[sp.name] < prev[sp.name] - sp.max_worse:
                                aborted = True
                        else:
                            if new[sp.name] <= prev[sp.name] - sp.min_better:
                                improved += 1
                            elif new[sp.name] > prev[sp.name] + sp.max_worse:
                                aborted = True
                    if aborted or improved == 0:
                        break
            if fold_choice == "penultimate" and len(tried) >= 2:
                best.append(tried[-2][0])
            else:
                best.append(min(tried, key=lambda t: t[1][specs[0].name])[0])
        if best:
            out[conv] = float(np.median(best))
    return out


def test_tolerance_ladder_matches_pandas_replay(spark, series_df):
    """Spark tolerance-rule search == independent pandas replay of the
    reference's convergence + penultimate-choice semantics, on all 60 seeded
    series, for both fold_choice modes."""
    from mpnsm_spark.functions.tuning import MetricSpec, make_ladder, wmape as _wm

    grid = make_ladder(1, 16, 2, "multiplicative")  # [1,2,4,8,16]
    specs = [MetricSpec(_wm, higher_better=False, max_worse=0.02,
                        min_better=0.002, name="wmape")]
    for mode in ("penultimate", "best"):
        got = tune_per_series(
            series_df, param_grid=grid, metric_specs=specs, fold_choice=mode
        ).toPandas()
        want = _pandas_tolerance_tune(
            series_df.toPandas(), grid, specs, fold_choice=mode
        )
        assert len(got) == len(want)
        for r in got.itertuples(index=False):
            assert r.chosen_param == want[r.conv_id], (mode, r.conv_id)
    # the tolerance rule actually binds: some series stop before the last rung
    got_exhaustive = tune_per_series(series_df, param_grid=grid).toPandas()
    merged = got.merge(got_exhaustive, on="conv_id", suffixes=("_tol", "_full"))
    assert (merged["chosen_param_tol"] != merged["chosen_param_full"]).any()


# -------------------------------------------- coefficient/debug enrichment ---


def test_stepwise_debug_columns_match_kernel_internals(spark, series_df):
    """with_debug must attach the kernel's ACTUAL fitted params: mean_a is
    the decimal-exact train mean, a0/b0 the last train values, n_train the
    series length — recomputed independently in pandas per series."""
    from mpnsm_spark.functions.tuning import dec_mean
    from mpnsm_spark.operators.forecast import stepwise_predict

    df = series_df.withColumnsRenamed({"value": "a"}).withColumn(
        "b", F.col("a") * 0.5 + 1.0
    )
    got = stepwise_predict(df, horizon=4, with_debug=True).toPandas()
    pdf = df.toPandas()
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        sub = got[got.conv_id == conv]
        assert (sub["mean_a"] == dec_mean(g["a"].to_numpy())).all(), conv
        assert (sub["a0"] == g["a"].iloc[-1]).all()
        assert (sub["b0"] == g["b"].iloc[-1]).all()
        assert (sub["n_train"] == len(g)).all()
    # debug columns don't perturb the predictions
    plain = stepwise_predict(df, horizon=4).toPandas()
    merged = plain.merge(got, on=["conv_id", "step"], suffixes=("", "_dbg"))
    assert (merged["yhat_a"] == merged["yhat_a_dbg"]).all()
    assert (merged["yhat_b"] == merged["yhat_b_dbg"]).all()


def test_cv_debug_and_interval_debug_columns(spark, series_df):
    from mpnsm_spark.operators.uncertainty import residual_intervals

    preds = cv_fit_predict(series_df, param=4, with_debug=True)
    pdf = preds.toPandas()
    assert (pdf["param"] == 4.0).all()
    # cutoff is the fold's train length: n - horizon - fold*jump
    n_by_conv = series_df.toPandas().groupby("conv_id").size()
    expect = pdf.conv_id.map(n_by_conv) - 10 - pdf["fold"] * 5
    assert (pdf["cutoff"] == expect).all()

    iv = residual_intervals(preds, keep_debug=True).toPandas()
    assert {"resid_q_lo", "resid_q_hi"} <= set(iv.columns)
    # the kept quantiles ARE the interval offsets
    assert np.allclose(iv["yhat_lo"], iv["yhat"] + iv["resid_q_lo"])
    assert np.allclose(iv["yhat_hi"], iv["yhat"] + iv["resid_q_hi"])


def test_hierarchy_reconciliation_closed_forms(spark):
    """BU/OLS/WLSS revisions equal the projection S(S'W^-1 S)^-1 S'W^-1 y
    computed with numpy for the 2-level hierarchy, and reconciled outputs
    are coherent (total == sum of revised bottom)."""
    from mpnsm_spark.operators.hierarchy import reconcile_forecasts

    k = 4
    yb = np.array([10.0, 20.0, 30.0, 40.0])
    yT = 110.0  # discrepancy d = 10
    bottom = spark.createDataFrame(
        [(f"s{i}", 1, float(v)) for i, v in enumerate(yb)],
        "conv_id string, step int, yhat double",
    )
    total = spark.createDataFrame([(1, yT)], "step int, yhat_total double")

    # numpy oracle via the full projection
    S = np.vstack([np.ones(k), np.eye(k)])          # (k+1) x k
    y = np.concatenate([[yT], yb])
    for method, Winv in (
        ("ols", np.eye(k + 1)),
        ("wlss", np.diag([1.0 / k] + [1.0] * k)),
    ):
        beta = np.linalg.solve(S.T @ Winv @ S, S.T @ Winv @ y)
        got = (
            reconcile_forecasts(bottom, total, method=method)
            .toPandas()
            .sort_values("conv_id")
        )
        assert np.allclose(got["yhat_rec"].to_numpy(), beta, atol=1e-9), method
        assert np.allclose(got["yhat_total_rec"].to_numpy(), beta.sum()), method
        # coherence: revised total == sum of revised bottoms
        assert np.allclose(got["yhat_rec"].sum(), got["yhat_total_rec"].iloc[0])
    bu = reconcile_forecasts(bottom, total, method="bu").toPandas()
    bu = bu.sort_values("conv_id")
    assert (bu["yhat_rec"].to_numpy() == yb).all()
    assert np.allclose(bu["yhat_total_rec"].to_numpy(), yb.sum())
    with pytest.raises(ValueError):
        reconcile_forecasts(bottom, total, method="mint")


# ---------------------------------------------------- multi-parameter search


def _wscale(train, h, p):
    """2-param surrogate: scaled last-w mean."""
    w = int(p["w"])
    seg = train[-w:] if w < len(train) else train
    return np.full(h, dec_mean(seg) * p["scale"])


def test_expand_param_grid_parametergrid_order():
    from mpnsm_spark.functions.tuning import expand_param_grid

    got = expand_param_grid({"w": [1, 2], "scale": [0.9, 1.0]})
    # sorted keys (scale, w), LAST key fastest
    assert got == [
        {"scale": 0.9, "w": 1},
        {"scale": 0.9, "w": 2},
        {"scale": 1.0, "w": 1},
        {"scale": 1.0, "w": 2},
    ]


def _pandas_grid_tune(pdf, grid, chooser, n_folds=3, horizon=10, jump=5, min_train=5):
    """Independent pandas replay of the multi-param grid search."""
    from mpnsm_spark.functions.tuning import expand_param_grid

    combos = expand_param_grid(grid)
    out = {}
    for conv, g in pdf.groupby("conv_id"):
        vals = g.sort_values("turn_idx")["value"].to_numpy()
        cutoffs = expanding_cutoffs(len(vals), n_folds, horizon, jump, min_train)
        if not cutoffs:
            continue
        table = []  # (fold, combo_idx, score)
        for fi, c in enumerate(cutoffs):
            train, test = vals[:c], vals[c : c + horizon]
            for ci, combo in enumerate(combos):
                table.append((fi, ci, wmape(test, _wscale(train, horizon, combo))))
        if chooser == "global_min":
            _, ci, _ = min(table, key=lambda t: (t[2], t[1], t[0]))
            chosen = combos[ci]
        else:
            per_fold = []
            for fi in range(len(cutoffs)):
                rows = [t for t in table if t[0] == fi]
                _, ci, _ = min(rows, key=lambda t: (t[2], t[1]))
                per_fold.append(combos[ci])
            chosen = {
                p: float(np.median([b[p] for b in per_fold])) for p in grid
            }
        out[conv] = ({k: float(v) for k, v in chosen.items()}, len(cutoffs))
    return out


@pytest.mark.parametrize("chooser", ["global_min", "median"])
def test_tune_grid_matches_pandas_replay(spark, series_df, chooser):
    from mpnsm_spark.functions.tuning import tune_grid_per_series

    grid = {"w": [1, 2, 4, 8], "scale": [0.95, 1.0, 1.05]}
    got = tune_grid_per_series(
        series_df, grid, _wscale, chooser=chooser
    ).toPandas()
    want = _pandas_grid_tune(series_df.toPandas(), grid, chooser)
    assert set(got["conv_id"]) == set(want)
    for (conv, param), grp in got.groupby(["conv_id", "param"]):
        assert len(grp) == 1
        chosen, folds = want[conv]
        assert grp["value"].iloc[0] == chosen[param], (conv, param, chooser)
        assert grp["folds_used"].iloc[0] == folds
    # non-degenerate: both params vary across series
    pivots = got.pivot(index="conv_id", columns="param", values="value")
    assert pivots["w"].nunique() > 1


def test_tune_ladder_coordinate_descent_matches_replay(spark, series_df):
    """Sequential per-param ladders with the others fixed (reference
    heuristic tuner): independent pandas replay of the full walk."""
    from mpnsm_spark.functions.tuning import (
        MetricSpec,
        ladder_converged,
        make_ladder,
        tune_ladder_per_series,
    )

    specs = [MetricSpec(wmape, max_worse=0.02, min_better=0.002, name="wmape")]
    ladder_specs = [
        {"name": "w", "initial": 1, "final": 16, "step": 2, "mode": "multiplicative"},
        {"name": "scale", "initial": 0.9, "final": 1.2, "step": 0.1},
    ]
    base = {"w": 1, "scale": 1.0}
    got = tune_ladder_per_series(
        series_df, ladder_specs, _wscale, base_params=base, metric_specs=specs
    ).toPandas()

    pdf = series_df.toPandas()
    for conv, g in pdf.groupby("conv_id"):
        vals = g.sort_values("turn_idx")["value"].to_numpy()
        cutoffs = expanding_cutoffs(len(vals), 3, 10, 5, 5)
        if not cutoffs:
            continue
        folds = [(vals[:c], vals[c : c + 10]) for c in cutoffs]
        best = dict(base)
        for sp in ladder_specs:
            ladder = make_ladder(
                sp["initial"], sp["final"], sp["step"], sp.get("mode", "additive")
            )
            tried = []
            for v in ladder:
                per = [
                    wmape(test, _wscale(train, 10, {**best, sp["name"]: v}))
                    for train, test in folds
                ]
                s = {"wmape": float(np.mean(per))}
                tried.append((float(v), s))
                if len(tried) >= 2 and ladder_converged(tried[-2][1], s, specs):
                    break
            best[sp["name"]] = (
                tried[-2][0] if len(tried) >= 2 else tried[-1][0]
            )
        sub = got[got.conv_id == conv].set_index("param")["value"]
        assert sub["w"] == best["w"], conv
        assert sub["scale"] == best["scale"], conv


def test_tune_grid_with_real_model(spark, series_df):
    """The OLS model's dict params ride the multi-param grid end-to-end."""
    from mpnsm_spark.functions.model import ols_forecaster
    from mpnsm_spark.functions.tuning import tune_grid_per_series

    small = series_df.filter(F.col("conv_id") < "s006")
    got = tune_grid_per_series(
        small,
        {"n_changepoints": [0, 2], "fit_smooth": [0, 1]},
        lambda tr, h, p: ols_forecaster(
            tr, h, {"n_changepoints": int(p["n_changepoints"]),
                    "fit_smooth": bool(p["fit_smooth"])}
        ),
        chooser="global_min",
    ).toPandas()
    assert set(got["param"]) == {"fit_smooth", "n_changepoints"}
    assert (got.groupby("conv_id").size() == 2).all()
