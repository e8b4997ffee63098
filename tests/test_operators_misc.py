"""Config inheritance, outliers, changepoints, tail-trim, CV splits, calc cols,
metrics."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.functions import metrics
from mpnsm_spark.functions.calc import with_calc_columns
from mpnsm_spark.functions.cvsplits import expanding_folds
from mpnsm_spark.operators.config import explode_config_lists, resolve_config
from mpnsm_spark.operators.outliers import changepoints, iqr_outliers, tail_trim
from mpnsm_spark.operators.rollup import rollup_raw


# ------------------------------------------------------------------- config


def test_resolve_config_fine_overrides_coarse(spark):
    units = spark.createDataFrame(
        [("eu", "de", "c1"), ("eu", "fr", "c2"), ("us", "ny", "c3")],
        "region string, nation string, cust string",
    )
    region_cfg = spark.createDataFrame(
        [("eu", 1.0, "weekly"), ("us", 2.0, "daily")],
        "region string, growth double, seasonality string",
    )
    nation_cfg = spark.createDataFrame(
        [("de", 9.0, None)], "nation string, growth double, seasonality string"
    )
    out = resolve_config(
        units,
        [(["region"], region_cfg), (["nation"], nation_cfg)],
        ["growth", "seasonality"],
    ).toPandas().set_index("cust")
    assert out.loc["c1", "growth"] == 9.0  # nation overrides region
    assert out.loc["c1", "seasonality"] == "weekly"  # inherited from region
    assert out.loc["c2", "growth"] == 1.0
    assert out.loc["c3", "growth"] == 2.0


def test_resolve_config_coverage_assert(spark):
    units = spark.createDataFrame([("eu",), ("apac",)], "region string")
    cfg = spark.createDataFrame([("eu", 1.0)], "region string, growth double")
    with pytest.raises(ValueError, match="does not cover"):
        resolve_config(units, [(["region"], cfg)], ["growth"])


def test_explode_config_lists(spark):
    cfg = spark.createDataFrame(
        [("m1", ["a", "b"]), ("m2", ["c"])], "model string, regressors array<string>"
    )
    out = explode_config_lists(cfg, "regressors", "regressor").toPandas()
    assert len(out) == 3 and set(out["regressor"]) == {"a", "b", "c"}


# ------------------------------------------------------------------ outliers


def test_iqr_outliers_flags_extremes(spark):
    vals = [(f"c", i, float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 11, 500, -300])]
    df = spark.createDataFrame(vals, "conv_id string, turn_idx int, value double")
    out = iqr_outliers(df).toPandas().set_index("turn_idx")
    assert bool(out.loc[6, "is_outlier"]) and bool(out.loc[7, "is_outlier"])
    assert not out.loc[0:5, "is_outlier"].any()


def test_outlier_operators_share_the_grouped_quartile_fences(spark):
    """``iqr_outliers`` and ``outlier_dummies`` flag every row with the same
    fences, bitwise equal to a grouped ``percentile`` aggregate joined back
    (the former fence path, kept here as the reference)."""
    from mpnsm_spark.operators.outliers import outlier_dummies

    rng = np.random.default_rng(11)
    rows = [
        (f"c{c}", i, f"2025-01-{1 + i % 9:02d}", float(v))
        for c in range(5)
        for i, v in enumerate(rng.normal(0, 1, 40).round(3) * (1 + c))
    ] + [("c0", 99, "2025-01-02", 40.0), ("c3", 99, "2025-01-07", -60.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, day string, value double"
    ).withColumn("day", F.to_timestamp("day"))
    cols = ["conv_id", "turn_idx", "is_outlier", "fence_lo", "fence_hi"]

    q = df.groupBy("conv_id").agg(
        F.percentile("value", 0.25).alias("q1"), F.percentile("value", 0.75).alias("q3")
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    want = df.join(q, "conv_id").select(
        "conv_id",
        "turn_idx",
        ((F.col("value") < lo) | (F.col("value") > hi)).alias("is_outlier"),
        lo.alias("fence_lo"),
        hi.alias("fence_hi"),
    )
    flagged = iqr_outliers(df).select(cols)
    dummies = outlier_dummies(df, date_col="day").select(cols)

    def ordered(frame):
        return frame.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    expect = ordered(want)
    assert expect["is_outlier"].sum() >= 2
    pd.testing.assert_frame_equal(ordered(flagged), expect, check_exact=True)
    pd.testing.assert_frame_equal(ordered(dummies), expect, check_exact=True)

    n_dates = iqr_outliers(df).filter("is_outlier").select("day").distinct().count()
    with pytest.raises(ValueError, match="max_dummies"):
        outlier_dummies(df, date_col="day", max_dummies=n_dates - 1)


def test_tail_trim_matches_iterative_reference(spark):
    rng = np.random.default_rng(3)
    vals = rng.normal(0, 10, 25).round(2)
    pdf = pd.DataFrame({"conv_id": "c", "turn_idx": range(25), "value": vals})

    def reference_trim(values: pd.Series, max_keep: int) -> set:
        """Literal iterative semantics: drop current max, then min, ..."""
        s = values.copy()
        drop_max = True
        while len(s) > max_keep:
            idx = s.idxmax() if drop_max else s.idxmin()
            s = s.drop(idx)
            drop_max = not drop_max
        return set(s.index)

    for max_keep in (25, 24, 20, 13, 3, 1):
        got = (
            tail_trim(spark.createDataFrame(pdf), max_keep)
            .toPandas()["turn_idx"]
            .tolist()
        )
        want = reference_trim(pdf.set_index("turn_idx")["value"], max_keep)
        assert set(got) == want, f"max_keep={max_keep}"


def test_changepoints_respect_min_distance(spark, transcripts):
    t1h = rollup_raw(transcripts, "1h")
    cps = changepoints(t1h, n_changepoints=4, min_distance=3).toPandas()
    assert (cps["rank"] >= 1).all()
    # per conv: accepted points pairwise ≥ min_distance buckets apart
    tier = t1h.select("conv_id", "bucket_start").toPandas()
    for conv, g in cps.groupby("conv_id"):
        buckets = (
            tier[tier.conv_id == conv].sort_values("bucket_start")["bucket_start"]
            .reset_index(drop=True)
        )
        pos = {b: i for i, b in enumerate(buckets)}
        idxs = sorted(pos[b] for b in g["bucket_start"])
        assert all(b - a >= 3 for a, b in zip(idxs, idxs[1:])), (conv, idxs)


def test_changepoints_match_pandas_oracle(spark):
    """Deterministic series with two obvious level shifts."""
    ts = pd.date_range("2025-01-01", periods=30, freq="h")
    vals = np.concatenate([np.zeros(10), np.full(10, 50.0), np.zeros(10)])
    pdf = pd.DataFrame({"conv_id": "c", "bucket_start": ts, "value_avg": vals})
    cps = changepoints(
        spark.createDataFrame(pdf), n_changepoints=2, min_distance=5
    ).toPandas()
    got = sorted(cps["bucket_start"].dt.hour.tolist())
    # level shifts at idx 10/20 → four EXACTLY-equal smoothed-|d2| spikes at
    # hours 8, 11, 18, 21 (scores tie after 6dp rounding). Greedy order is
    # (score desc, position asc): accept 8, reject 11 (<5 apart), accept 18.
    assert got == [8, 18]


# ------------------------------------------------------------------ cv folds


def test_expanding_folds_semantics(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": "c",
            "bucket_start": pd.date_range("2025-01-01", periods=10, freq="D"),
            "value_avg": np.arange(10.0),
        }
    )
    out = expanding_folds(
        spark.createDataFrame(pdf), horizon=2, n_folds=3, jump=2
    ).toPandas()
    # fold f cutoff = 10 - 2 - 2f → folds 0,1,2 cutoffs 8,6,4
    for fold, cutoff in [(0, 8), (1, 6), (2, 4)]:
        g = out[out.fold == fold]
        assert len(g[g.role_cv == "train"]) == cutoff
        assert len(g[g.role_cv == "test"]) == 2
        assert g[g.role_cv == "train"]["value_avg"].max() < g[
            g.role_cv == "test"
        ]["value_avg"].min()


def test_expanding_folds_skips_small_series(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": "tiny",
            "bucket_start": pd.date_range("2025-01-01", periods=3, freq="D"),
            "value_avg": [1.0, 2.0, 3.0],
        }
    )
    out = expanding_folds(
        spark.createDataFrame(pdf), horizon=2, n_folds=3, jump=2, min_train=2
    ).toPandas()
    # n=3: cutoffs 1,-1,-3 → only... cutoff 1 < min_train 2 → no folds at all
    assert len(out) == 0


# ------------------------------------------------------------ calc + metrics


def test_calc_columns_expr_and_udf(spark, transcripts):
    out = with_calc_columns(
        transcripts.limit(100),
        {
            "value_sq": (F.col("value") * F.col("value")).cast("double"),
            "value_log1p": (lambda s: np.log1p(s), "value", "double"),
        },
    ).toPandas()
    np.testing.assert_allclose(out["value_sq"], out["value"] ** 2)
    np.testing.assert_allclose(out["value_log1p"], np.log1p(out["value"]))


def test_metrics_closed_forms(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 4 + ["b"] * 4,
            "y": [10.0, 20.0, 30.0, 40.0, 5.0, 5.0, 5.0, 5.0],
            "yhat": [12.0, 18.0, 33.0, 40.0, 5.0, 6.0, 4.0, 5.0],
            "lo": [8.0, 15.0, 25.0, 35.0, 4.0, 4.0, 4.0, 4.0],
            "hi": [13.0, 22.0, 31.0, 45.0, 6.0, 6.0, 6.0, 6.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        metrics.grouped_metrics(
            df,
            ["conv_id"],
            [
                metrics.wmape("y", "yhat"),
                metrics.coverage("y", "lo", "hi"),
                metrics.mae("y", "yhat"),
            ],
        )
        .toPandas()
        .set_index("conv_id")
    )
    assert got.loc["a", "wmape"] == pytest.approx(7 / 100)
    assert got.loc["a", "coverage"] == pytest.approx(1.0)
    assert got.loc["b", "mae"] == pytest.approx(0.5)


def test_metric_family_parity_closed_forms(spark):
    """Round-4 metric family (reference metrics.py:111, :301-380,
    deprecated/ts_utils.py:241-247) vs hand-computed numpy."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 4,
            "y": [10.0, 20.0, 30.0, 40.0],
            "yhat": [12.0, 18.0, 33.0, 40.0],
            "lo": [8.0, 15.0, 25.0, 35.0],
            "hi": [13.0, 22.0, 31.0, 45.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        metrics.grouped_metrics(
            df,
            ["conv_id"],
            [
                metrics.ci_width("yhat", "lo", "hi"),
                metrics.wmapeci("y", "yhat", "lo", "hi", ci_coef=0.7, wmape_coef=0.3),
                metrics.mean_abs_pct("y", "yhat"),
                metrics.median_abs_pct("y", "yhat"),
            ],
        )
        .toPandas()
        .set_index("conv_id")
    )
    y, yh = pdf["y"].to_numpy(), pdf["yhat"].to_numpy()
    ci = np.abs(pdf["hi"] - pdf["lo"]).sum() / np.abs(yh).sum()
    wm = np.abs(y - yh).sum() / np.abs(y).sum()
    r = np.abs(y - yh) / np.abs(y)
    assert got.loc["a", "ci_width"] == pytest.approx(ci)
    assert got.loc["a", "wmapeci"] == pytest.approx((0.7 * ci + 0.3 * wm) / 1.0)
    assert got.loc["a", "mean_abs_pct"] == pytest.approx(r.mean())
    assert got.loc["a", "median_abs_pct"] == pytest.approx(np.median(r))
    # the in-kernel (tuning) twins agree with the SQL-side columns
    from mpnsm_spark.functions.tuning import METRICS

    assert METRICS["mean_abs_pct"](y, yh) == pytest.approx(r.mean())
    assert METRICS["median_abs_pct"](y, yh) == pytest.approx(np.median(r))
    # odd-count median path
    assert METRICS["median_abs_pct"](y[:3], yh[:3]) == pytest.approx(
        np.median(r[:3])
    )


def test_outlier_dummies_wide_encoding(spark):
    """mode='dummy' (reference outlier_handle='fit'): rows kept, one 0/1
    column per distinct outlier date, active exactly at (series, date)
    outlier cells; 'drop' removes the rows; 'flag' annotates."""
    from pyspark.sql import functions as F

    from mpnsm_spark.operators.outliers import handle_outliers, outlier_dummies

    rows = []
    for conv, spike_day in (("a", "2025-01-05"), ("b", "2025-01-09")):
        for d in range(1, 13):
            day = f"2025-01-{d:02d}"
            rows.append((conv, day, 1000.0 if day == spike_day else float(d % 3)))
    df = spark.createDataFrame(
        rows, "conv_id string, day string, value double"
    ).withColumn("day", F.to_timestamp("day"))

    wide = outlier_dummies(df, date_col="day").toPandas()
    dummy_cols = sorted(c for c in wide.columns if c.startswith("outlier_2"))
    assert len(dummy_cols) == 2  # one column per distinct outlier day
    assert wide[dummy_cols].to_numpy().sum() == 2
    a_row = wide[(wide.conv_id == "a") & wide.is_outlier]
    assert len(a_row) == 1 and a_row[dummy_cols[0]].iloc[0] == 1
    assert a_row[dummy_cols[1]].iloc[0] == 0  # b's spike day is not a's dummy

    dropped = handle_outliers(df, mode="drop", date_col="day")
    assert dropped.count() == 22 and dropped.filter("value > 100").count() == 0
    flagged = handle_outliers(df, mode="flag", date_col="day")
    assert flagged.filter("is_outlier").count() == 2
