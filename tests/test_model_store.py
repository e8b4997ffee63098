"""Fitted-model state through the manager's fit path: persist, reload and
predict without refitting (reference manager.py:213-220/262-271 fit-save /
predict-reload, model.py:518-552 save_model/load_model). The grown-panel
``cache_feat`` skip is checked in test_manager.py."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.functions.model import TrendSeasonalOLS
from mpnsm_spark.functions.model_store import (
    load_model_states,
    model_from_state,
    predict_from_states,
)
from mpnsm_spark.plans.manager import run_manager
from mpnsm_spark.plans.pipeline import PipelineConfig
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


TABLE = "mgr_models_value"


def _fit(spark, df, io, min_train=8):
    """run_manager's fit mode: one state row per series in ``TABLE``."""
    config = [{"unit": {}, "targets": [{"target_col": "value", "model": MODEL_KWARGS}]}]
    return run_manager(spark, df, io, config, ["conv_id"], run_mode="fit",
                       min_train=min_train, cfg=PipelineConfig(num_buckets=2))


def _local_fit(values) -> TrendSeasonalOLS:
    kwargs = dict(MODEL_KWARGS)
    kwargs["seasonality"] = tuple(tuple(s) for s in kwargs["seasonality"])
    return TrendSeasonalOLS(**kwargs).fit(np.asarray(values, dtype=np.float64))


def _pd(df):
    return df.toPandas().sort_values(["_unit_id", "target", "step"]).reset_index(drop=True)


def test_fit_persist_reload_bitwise(spark, series_df, tmp_path):
    """fit → persist → reload → predictions are BIT-identical to an
    independent local refit."""
    io = TableIO(str(tmp_path / "wh"))
    _fit(spark, series_df, io)
    assert io.snapshot_version(TABLE) == 1

    got = _pd(predict_from_states(load_model_states(spark, io, TABLE), horizon=7))

    # independent local oracle: refit each series in plain numpy/pandas
    pdf = series_df.toPandas().sort_values(["conv_id", "turn_idx"])
    expected = []
    for conv, g in pdf.groupby("conv_id"):
        m = _local_fit(g["value"])
        expected.append(
            pd.DataFrame(
                {
                    "_unit_id": conv,
                    "target": "value",
                    "step": np.arange(1, 8, dtype=np.int32),
                    "yhat": m.predict(7),
                }
            )
        )
    exp = pd.concat(expected, ignore_index=True)
    exp = exp.sort_values(["_unit_id", "target", "step"]).reset_index(drop=True)
    # bitwise: parquet round-trips IEEE doubles exactly and the reloaded
    # predict is the same code path as fit-time predict
    assert (got["yhat"].to_numpy() == exp["yhat"].to_numpy()).all()
    assert got["step"].tolist() == exp["step"].tolist()


def test_state_row_reconstructs_full_model(spark, series_df, tmp_path):
    """model_from_state restores in-sample prediction too (smooth_train_
    round-trips) — the state row IS the complete fitted model."""
    io = TableIO(str(tmp_path / "wh"))
    _fit(spark, series_df, io)
    row = (
        load_model_states(spark, io, TABLE)
        .filter(F.col("_unit_id") == "conv0")
        .collect()[0]
        .asDict()
    )
    m = model_from_state(row)
    pdf = (
        series_df.filter(F.col("conv_id") == "conv0")
        .toPandas()
        .sort_values("turn_idx")
    )
    fresh = _local_fit(pdf["value"])
    assert (m.predict_in_sample() == fresh.predict_in_sample()).all()
    assert (m.predict(12) == fresh.predict(12)).all()


def test_refit_supersedes_by_snapshot_version(spark, series_df, tmp_path):
    """A newer snapshot holding some units' states supersedes just those
    units: load takes the newest state per (unit, target) — versioned params
    semantics (A7 max-version scan) — and the other units keep theirs."""
    io = TableIO(str(tmp_path / "wh"))
    _fit(spark, series_df, io)
    before = _pd(predict_from_states(load_model_states(spark, io, TABLE), horizon=3))

    shifted = series_df.withColumn("value", F.col("value") + F.lit(100.0))
    io_shifted = TableIO(str(tmp_path / "shifted"))
    _fit(spark, shifted, io_shifted)
    refit = ["conv0", "conv1", "conv2"]
    io.append(
        io_shifted.read(spark, TABLE)
        .filter(F.col("_unit_id").isin(refit))
        .withColumn("_v", F.lit(io.snapshot_version(TABLE) + 1)),
        TABLE,
    )
    cur = load_model_states(spark, io, TABLE)
    assert cur.count() == series_df.select("conv_id").distinct().count()
    got = _pd(predict_from_states(cur, horizon=3))
    fresh = _pd(
        predict_from_states(load_model_states(spark, io_shifted, TABLE), horizon=3)
    )
    new = got["_unit_id"].isin(refit)
    # newest snapshot wins: the level reflects the +100 shift
    assert (got[new]["yhat"].to_numpy() == fresh[new]["yhat"].to_numpy()).all()
    assert (got[~new]["yhat"].to_numpy() == before[~new]["yhat"].to_numpy()).all()


def test_short_series_pruned(spark, tmp_path):
    """Series below min_train emit no state (P8 pruning) and a store built
    from only-short series still loads as empty-but-valid."""
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 2.0), ("b", 0, 3.0)],
        "conv_id string, turn_idx int, value double",
    )
    io = TableIO(str(tmp_path / "wh"))
    res = _fit(spark, df, io, min_train=8)
    assert sum(s["output_rows"] for s in res.stages) == 0
    assert load_model_states(spark, io, TABLE).count() == 0
