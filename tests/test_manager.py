"""Config-driven manager: hierarchical config inheritance end-to-end through
run_kernel_stage (reference TimeSeriesManager, manager.py:20-39/135-149,
config.py generate_full_tree coverage semantics)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mpnsm_spark.functions.model import TrendSeasonalOLS
from mpnsm_spark.plans.manager import (
    ManagerResult,
    resolve_unit_configs,
    run_manager,
)
from mpnsm_spark.plans.pipeline import PipelineConfig
from mpnsm_spark.sources.tableio import TableIO

N_TRAIN = 24
N_FUTURE = 4
START = dt.date(2024, 1, 1)


def _series(seed: float):
    t = np.arange(N_TRAIN)
    return np.round(10 + seed + 0.5 * t + 3 * np.sin(t / 2), 6)


@pytest.fixture(scope="module")
def panel(spark):
    """(region, store) panel: train rows carry sales/visits; future rows have
    null sales (the 'features data must already have future data' contract)."""
    rows = []
    units = [("A", "s1"), ("A", "s2"), ("B", "s3"), ("B", "s4")]
    for ui, (region, store) in enumerate(units):
        sales = _series(ui * 7.0)
        visits = _series(ui * 3.0 + 1.0)
        for i in range(N_TRAIN + N_FUTURE):
            ds = START + dt.timedelta(days=i)
            train = i < N_TRAIN
            rows.append(
                (
                    region,
                    store,
                    i,
                    ds.isoformat(),
                    float(sales[i]) if train else None,
                    float(visits[i]) if train else None,
                )
            )
    df = spark.createDataFrame(
        rows,
        "region string, store string, turn_idx int, ds string, "
        "sales double, visits double",
    )
    return df.cache()


CONFIG = [
    {
        "unit": {},
        "horizon": 5,
        "targets": [
            {"target_col": "sales", "model": {"n_changepoints": 2}},
            {
                "target_col": "visits",
                "model": {"n_changepoints": 1, "seasonality": [[7, 1]]},
            },
        ],
    },
    # finer level overrides ONLY horizon; targets inherit from the root (J7
    # field-level inheritance through resolve_config)
    {"unit": {"region": "B"}, "horizon": 3},
]


def _train_only(panel):
    return panel.filter(F.col("sales").isNotNull())


def test_resolve_unit_configs_inheritance(spark, panel):
    resolved = resolve_unit_configs(
        spark, panel, ["region", "store"], CONFIG
    ).toPandas()
    assert len(resolved) == 4
    by_region = resolved.groupby("region")["horizon"].unique()
    assert list(by_region["A"]) == [5]
    assert list(by_region["B"]) == [3]
    # targets inherited identically everywhere
    assert resolved["targets_json"].nunique() == 1


def test_resolve_coverage_assert(spark, panel):
    with pytest.raises(ValueError, match="does not cover"):
        resolve_unit_configs(
            spark,
            panel,
            ["region", "store"],
            [{"unit": {"region": "A"}, "targets": CONFIG[0]["targets"]}],
        )


def test_run_manager_two_targets_inherited_horizons(spark, panel, tmp_path):
    """Two targets, two hierarchy levels, end to end through run_kernel_stage;
    forecasts are bitwise-equal to local per-series TrendSeasonalOLS fits."""
    io = TableIO(str(tmp_path / "wh"))
    train = _train_only(panel)
    res = run_manager(
        spark,
        train,
        io,
        CONFIG,
        group_columns=["region", "store"],
        cfg=PipelineConfig(num_buckets=4),
    )
    assert len(res.stages) == 2  # one kernel stage per target
    assert all(not s["buckets_error"] for s in res.stages)
    fc = res.forecasts(spark, io).toPandas()
    # horizons: region A stores get 5 steps, region B stores 3 — per target
    steps = fc.groupby(fc["_unit_id"].str.split("\x1f").str[0])["step"].max()
    assert steps["A"] == 5 and steps["B"] == 3
    assert set(fc["target"]) == {"sales", "visits"}

    # bitwise oracle: local numpy fit per (unit, target)
    pdf = train.toPandas().sort_values(["region", "store", "turn_idx"])
    for (region, store), g in pdf.groupby(["region", "store"]):
        horizon = 5 if region == "A" else 3
        for target, kwargs in (
            ("sales", {"n_changepoints": 2}),
            ("visits", {"n_changepoints": 1, "seasonality": ((7.0, 1),)}),
        ):
            m = TrendSeasonalOLS(**kwargs).fit(g[target].to_numpy(np.float64))
            exp = m.predict(horizon)
            got = (
                fc[
                    (fc["_unit_id"] == f"{region}\x1f{store}")
                    & (fc["target"] == target)
                ]
                .sort_values("step")["yhat"]
                .to_numpy()
            )
            assert (got == exp).all(), (region, store, target)


def test_run_manager_regressors_future_rows(spark, panel, tmp_path):
    """A target with declarative regressors forecasts the future grid using
    future-row regressor values — bitwise vs a local fit with extras."""
    io = TableIO(str(tmp_path / "wh"))
    event_day = (START + dt.timedelta(days=N_TRAIN + 1)).isoformat()
    config = [
        {
            "unit": {},
            "targets": [
                {
                    "target_col": "sales",
                    "model": {"n_changepoints": 1},
                    "regressors": [
                        {
                            "kind": "special_event",
                            "name": "promo",
                            "dates": [{"date": event_day, "value": 2.0}],
                        },
                        {"kind": "big_changer", "dates": ["2024-01-10"]},
                    ],
                }
            ],
        }
    ]
    res = run_manager(
        spark,
        panel,
        io,
        config,
        group_columns=["region", "store"],
        date_col="ds",
        cfg=PipelineConfig(num_buckets=4),
    )
    assert all(not s["buckets_error"] for s in res.stages)
    fc = res.forecasts(spark, io).toPandas()
    # every unit forecasts exactly the future grid (N_FUTURE rows)
    assert (fc.groupby("_unit_id")["step"].max() == N_FUTURE).all()

    pdf = panel.toPandas().sort_values(["region", "store", "turn_idx"])
    for (region, store), g in pdf.groupby(["region", "store"]):
        days = pd.to_datetime(g["ds"]).dt.date
        promo = np.where(days == dt.date.fromisoformat(event_day), 2.0, 0.0)
        after = (days >= dt.date(2024, 1, 10)).astype(float)
        X = np.column_stack([promo, after])
        tr = g["sales"].notna().to_numpy()
        m = TrendSeasonalOLS(n_changepoints=1).fit(
            g["sales"].to_numpy(np.float64)[tr], X[tr]
        )
        exp = m.predict(N_FUTURE, extra=X[~tr])
        got = (
            fc[fc["_unit_id"] == f"{region}\x1f{store}"]
            .sort_values("step")["yhat"]
            .to_numpy()
        )
        assert (got == exp).all(), (region, store)


def test_run_manager_regressor_without_future_errors_isolated(
    spark, panel, tmp_path
):
    """Regressors + no future rows violates the reference contract — the
    manager surfaces it as per-bucket error lineage, not a failed job."""
    io = TableIO(str(tmp_path / "wh"))
    config = [
        {
            "unit": {},
            "targets": [
                {
                    "target_col": "sales",
                    "model": {},
                    "regressors": [
                        {"kind": "big_changer", "dates": ["2024-01-10"]}
                    ],
                }
            ],
        }
    ]
    res = run_manager(
        spark,
        _train_only(panel),  # no future rows anywhere
        io,
        config,
        group_columns=["region", "store"],
        date_col="ds",
        cfg=PipelineConfig(num_buckets=4),
    )
    st = res.stages[0]
    assert st["errored_series"] == 4  # every unit poisoned, job survived
    assert st["buckets_error"]  # lineage carries the error buckets


def test_run_manager_tuning_spec(spark, panel, tmp_path):
    """A tuning spec in the config drives per-series grid search; the fitted
    forecast uses each series' tuned winner (verified via the search core
    called per series in plain numpy as the param oracle + a local fit)."""
    from mpnsm_spark.functions.model import ols_forecaster
    from mpnsm_spark.functions.tuning import search_series

    io = TableIO(str(tmp_path / "wh"))
    tuning = {"grid": {"n_changepoints": [1, 3]}, "n_folds": 2, "horizon": 4}
    config = [
        {
            "unit": {},
            "horizon": 4,
            "targets": [
                {"target_col": "sales", "model": {"min_distance": 2},
                 "tuning": tuning}
            ],
        }
    ]
    train = _train_only(panel).withColumn(
        "_uid", F.concat_ws("\x1f", "region", "store")
    )
    res = run_manager(
        spark,
        _train_only(panel),
        io,
        config,
        group_columns=["region", "store"],
        cfg=PipelineConfig(num_buckets=4),
    )
    fc = res.forecasts(spark, io).toPandas()
    pdf = train.toPandas().sort_values(["_uid", "turn_idx"])
    for uid, g in pdf.groupby("_uid"):
        y = g["sales"].to_numpy(np.float64)
        chosen, _ = search_series(
            y, tuning["grid"], ols_forecaster, chooser="global_min",
            n_folds=2, horizon=4,
        )
        m = TrendSeasonalOLS(
            n_changepoints=int(chosen["n_changepoints"]), min_distance=2
        ).fit(y)
        exp = m.predict(4)
        got = (
            fc[fc["_unit_id"] == uid].sort_values("step")["yhat"].to_numpy()
        )
        assert (got == exp).all(), uid


def test_tuned_target_plans_one_python_pass(spark, tmp_path):
    """Tuning runs inside the fit kernel: a tuned target's executed plan has
    exactly one FlatMapGroupsInPandas and no more exchanges than an untuned
    one."""
    df = _panel_units(spark, 8)

    def plan(target: dict) -> str:
        res = run_manager(
            spark, df, TableIO(str(tmp_path / "wh")),
            [{"unit": {}, "horizon": 3, "targets": [target]}],
            group_columns=["region", "store"],
            cfg=PipelineConfig(num_buckets=4, ephemeral=True),
        )
        return res.forecast_frames[0]._jdf.queryExecution().executedPlan().toString()

    tuning = {"grid": {"n_changepoints": [1, 2]}, "n_folds": 2, "horizon": 3}
    tuned = plan({"target_col": "sales", "tuning": tuning})
    untuned = plan({"target_col": "sales"})
    assert tuned.count("FlatMapGroupsInPandas") == 1, tuned
    assert untuned.count("FlatMapGroupsInPandas") == 1, untuned
    assert tuned.count("Exchange") == untuned.count("Exchange"), tuned


def test_run_manager_fit_then_predict(spark, panel, tmp_path):
    """run_mode='fit' persists state; run_mode='predict' reloads and
    forecasts bitwise-identically WITHOUT refitting (proven on corrupted
    input data)."""
    io = TableIO(str(tmp_path / "wh"))
    train = _train_only(panel)
    base = [
        {
            "unit": {},
            "horizon": 6,
            "targets": [{"target_col": "sales", "model": {"n_changepoints": 2}}],
        }
    ]
    fit_res = run_manager(
        spark, train, io, base, group_columns=["region", "store"],
        run_mode="fit", cfg=PipelineConfig(num_buckets=4),
    )
    assert fit_res.model_tables == ["mgr_models_sales"]
    assert not fit_res.forecast_tables

    reference = run_manager(
        spark, train, TableIO(str(tmp_path / "wh2")), base,
        group_columns=["region", "store"], cfg=PipelineConfig(num_buckets=4),
    ).forecasts(spark, TableIO(str(tmp_path / "wh2"))).toPandas()

    poisoned = train.withColumn("sales", F.col("sales") * 1000.0)
    pred_res = run_manager(
        spark, poisoned, io, base, group_columns=["region", "store"],
        run_mode="predict", cfg=PipelineConfig(num_buckets=4),
    )
    got = pred_res.forecasts(spark, io).toPandas()
    key = ["_unit_id", "target", "step"]
    a = got.sort_values(key).reset_index(drop=True)
    b = reference.sort_values(key).reset_index(drop=True)
    assert (a["yhat"].to_numpy() == b["yhat"].to_numpy()).all()


def test_run_manager_predict_serves_only_group_units(spark, panel, tmp_path):
    """Predict with two resolved-config groups: the model table holds every
    unit, but each group forecasts only its own units, at its own horizon —
    every unit exactly once."""
    io = TableIO(str(tmp_path / "wh"))
    train = _train_only(panel)
    root = {
        "unit": {},
        "horizon": 6,
        "targets": [{"target_col": "sales", "model": {"n_changepoints": 2}}],
    }
    run_manager(
        spark, train, io, [root], group_columns=["region", "store"],
        run_mode="fit", cfg=PipelineConfig(num_buckets=4),
    )
    pred = run_manager(
        spark, train, io, [root, {"unit": {"region": "B"}, "horizon": 3}],
        group_columns=["region", "store"], run_mode="predict",
        cfg=PipelineConfig(num_buckets=4),
    )
    assert pred.forecast_tables == ["mgr_fcst_sales"]
    got = pred.forecasts(spark, io).toPandas()
    steps = got.groupby("_unit_id")["step"].apply(sorted).to_dict()
    sep = "\x1f"
    assert steps == {
        f"A{sep}s1": list(range(1, 7)),
        f"A{sep}s2": list(range(1, 7)),
        f"B{sep}s3": list(range(1, 4)),
        f"B{sep}s4": list(range(1, 4)),
    }


def test_manager_result_requires_tables(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        ManagerResult().forecasts(spark, TableIO(str(tmp_path / "whx")))


def test_run_manager_linear_hinge_matches_direct_fit(spark, panel, tmp_path):
    """model.forecaster='linear_hinge' routes the kernel through the
    SQL-replayable Cramer fit; per-series output equals calling
    linear_hinge_forecaster directly on the ordered train values."""
    from mpnsm_spark.functions.model import linear_hinge_forecaster

    config = [
        {
            "unit": {},
            "horizon": 5,
            "targets": [
                {"target_col": "sales", "model": {"forecaster": "linear_hinge"}}
            ],
        },
        {"unit": {"region": "B"}, "horizon": 3},
    ]
    io = TableIO(str(tmp_path / "hinge"))
    res = run_manager(
        spark,
        _train_only(panel),
        io,
        config,
        group_columns=["region", "store"],
        order_col="turn_idx",
        cfg=PipelineConfig(num_buckets=4),
    )
    got = res.forecasts(spark, io).toPandas()
    units = {("A", "s1"): 0, ("A", "s2"): 1, ("B", "s3"): 2, ("B", "s4"): 3}
    for (region, store), ui in units.items():
        horizon = 3 if region == "B" else 5
        want = linear_hinge_forecaster(_series(ui * 7.0), horizon, 0.5)
        g = got[got["_unit_id"] == f"{region}\x1f{store}"].sort_values("step")
        assert len(g) == horizon
        assert (g["yhat"].to_numpy() == want).all()  # bitwise


def test_run_manager_linear_hinge_rejects_unsupported_combos(spark, panel, tmp_path):
    io = TableIO(str(tmp_path / "hinge_bad"))

    def cfg_with(**target_extra):
        tgt = {"target_col": "sales", "model": {"forecaster": "linear_hinge"}}
        tgt.update(target_extra)
        return [{"unit": {}, "horizon": 4, "targets": [tgt]}]

    with pytest.raises(ValueError, match="linear_hinge"):
        run_manager(
            spark, _train_only(panel), io,
            cfg_with(regressors=[{"kind": "lag", "col": "sales", "lags": [1]}]),
            group_columns=["region", "store"], order_col="turn_idx",
        )
    with pytest.raises(ValueError, match="linear_hinge"):
        run_manager(
            spark, _train_only(panel), io,
            cfg_with(tuning={"grid": {"knot_frac": [0.4, 0.5]}}),
            group_columns=["region", "store"], order_col="turn_idx",
        )
    with pytest.raises(ValueError, match="linear_hinge"):
        run_manager(
            spark, _train_only(panel), io, cfg_with(),
            group_columns=["region", "store"], order_col="turn_idx",
            run_mode="fit",
        )
    with pytest.raises(ValueError, match="unknown forecaster"):
        run_manager(
            spark, _train_only(panel), io,
            [{"unit": {}, "horizon": 4,
              "targets": [{"target_col": "sales",
                           "model": {"forecaster": "prophet"}}]}],
            group_columns=["region", "store"], order_col="turn_idx",
        )


def test_run_manager_ephemeral_matches_persisted(spark, panel, tmp_path):
    """PipelineConfig(ephemeral=True) skips snapshot/lineage/read-back but
    produces the identical forecast rows as a persisted run (the one-shot
    optimization path must not change a single value)."""
    train = _train_only(panel)
    io_p = TableIO(str(tmp_path / "wh_persist"))
    res_p = run_manager(
        spark, train, io_p, CONFIG, group_columns=["region", "store"],
        cfg=PipelineConfig(num_buckets=4),
    )
    io_e = TableIO(str(tmp_path / "wh_ephemeral"))
    res_e = run_manager(
        spark, train, io_e, CONFIG, group_columns=["region", "store"],
        cfg=PipelineConfig(num_buckets=4, ephemeral=True),
    )
    assert res_e.forecast_frames and not res_e.forecast_tables
    # nothing was written under the ephemeral warehouse
    import os

    assert not any(
        name.startswith("mgr_") for name in os.listdir(str(tmp_path / "wh_ephemeral"))
    ) if os.path.isdir(str(tmp_path / "wh_ephemeral")) else True
    cols = ["_unit_id", "target", "step", "yhat"]
    got_p = (
        res_p.forecasts(spark, io_p).select(*cols).toPandas()
        .sort_values(cols).reset_index(drop=True)
    )
    got_e = (
        res_e.forecasts(spark, io_e).select(*cols).toPandas()
        .sort_values(cols).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_p, got_e)


def test_run_manager_ephemeral_rejects_fit(spark, panel, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="ephemeral"):
        run_manager(
            spark, _train_only(panel), io, CONFIG,
            group_columns=["region", "store"], run_mode="fit",
            cfg=PipelineConfig(num_buckets=4, ephemeral=True),
        )


def _panel_units(spark, n_units: int):
    """``n_units`` stores over regions A/B, ``N_TRAIN`` train rows each."""
    rows = [
        ("AB"[ui % 2], f"s{ui}", i, float(v))
        for ui in range(n_units)
        for i, v in enumerate(_series(ui * 5.0))
    ]
    return spark.createDataFrame(rows, "region string, store string, turn_idx int, sales double")


def _jobs_with_descriptions(spark, fn):
    """(description of every Spark job submitted while ``fn`` ran, its
    result). Nothing else may run in the session meanwhile."""
    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the scheduler
        return set(sc.statusTracker().getJobIdsForGroup())

    before = job_ids()
    out = fn()
    store = sc._jsc.sc().statusStore()
    descs = []
    for j in sorted(job_ids() - before):
        d = store.job(j).description()
        descs.append(d.get() if d.isDefined() else None)
    return descs, out


def test_fit_persists_every_unit_across_resolved_configs(spark, tmp_path):
    """Eight units, each with its own horizon entry (eight resolved configs):
    fit mode stores one state per unit, and predict forecasts every unit
    once, at its own horizon."""
    io = TableIO(str(tmp_path / "wh"))
    df = _panel_units(spark, 8)
    root = {"unit": {}, "targets": [{"target_col": "sales", "model": {"n_changepoints": 2}}]}
    horizons = {f"s{ui}": 2 + ui for ui in range(8)}
    config = [root] + [
        {"unit": {"region": "AB"[ui % 2], "store": f"s{ui}"}, "horizon": horizons[f"s{ui}"]}
        for ui in range(8)
    ]
    groups = ["region", "store"]
    fit = run_manager(spark, df, io, config, group_columns=groups, run_mode="fit",
                      cfg=PipelineConfig(num_buckets=4))
    states = io.read(spark, "mgr_models_sales").toPandas()
    assert sorted(states["_unit_id"]) == sorted(
        f"{'AB'[ui % 2]}\x1f{s}" for ui, s in enumerate(horizons)
    )
    assert sum(s["output_rows"] for s in fit.stages) == 8

    pred = run_manager(spark, df, io, config, group_columns=groups,
                       run_mode="predict", cfg=PipelineConfig(num_buckets=4))
    got = pred.forecasts(spark, io).toPandas()
    steps = got.groupby("_unit_id")["step"].apply(sorted).to_dict()
    assert steps == {
        f"{'AB'[ui % 2]}\x1f{s}": list(range(1, h + 1))
        for ui, (s, h) in enumerate(horizons.items())
    }


def test_fit_then_predict_with_regressors_matches_fit_predict(spark, panel, tmp_path):
    """A target with lag + event regressors: fit then predict forecasts each
    unit's future rows with those rows' regressor values, bitwise equal to
    fit_predict on the same input."""
    config = [
        {
            "unit": {},
            "horizon": 9,
            "targets": [
                {
                    "target_col": "sales",
                    "model": {"n_changepoints": 1},
                    "regressors": [
                        {"kind": "lag", "col": "visits", "lags": [1, 2]},
                        {"kind": "big_changer", "dates": ["2024-01-10"]},
                    ],
                }
            ],
        },
        {"unit": {"region": "B"}, "horizon": 3},
    ]
    kw = dict(group_columns=["region", "store"], date_col="ds",
              cfg=PipelineConfig(num_buckets=4))
    io = TableIO(str(tmp_path / "wh"))
    run_manager(spark, panel, io, config, run_mode="fit", **kw)
    pred = run_manager(spark, panel, io, config, run_mode="predict", **kw)
    io_ref = TableIO(str(tmp_path / "ref"))
    ref = run_manager(spark, panel, io_ref, config, **kw)

    cols = ["_unit_id", "target", "step", "yhat"]
    got = pred.forecasts(spark, io).select(*cols).toPandas()
    want = ref.forecasts(spark, io_ref).select(*cols).toPandas()
    assert len(want) == 4 * N_FUTURE
    pd.testing.assert_frame_equal(
        got.sort_values(cols).reset_index(drop=True),
        want.sort_values(cols).reset_index(drop=True),
        check_exact=True,
    )


def test_uncovering_config_raises_before_any_table(spark, panel, tmp_path):
    wh = tmp_path / "wh"
    with pytest.raises(ValueError, match="does not cover"):
        run_manager(
            spark, _train_only(panel), TableIO(str(wh)),
            [{"unit": {"region": "A"}, "targets": CONFIG[0]["targets"]}],
            group_columns=["region", "store"], cfg=PipelineConfig(num_buckets=4),
        )
    assert not (wh.is_dir() and any(p.name.startswith("mgr_") for p in wh.iterdir()))


def test_root_targets_submit_jobs_only_in_kernel_stages(spark, panel, tmp_path):
    """A root entry that sets targets covers every unit by construction:
    run_manager submits no job outside its per-target kernel stages, and
    hands the caller its own job description back."""
    sc = spark.sparkContext
    train = _train_only(panel)
    sc.setJobDescription("caller")
    try:
        descs, res = _jobs_with_descriptions(spark, lambda: run_manager(
            spark, train, TableIO(str(tmp_path / "wh")), CONFIG,
            group_columns=["region", "store"], cfg=PipelineConfig(num_buckets=4),
        ))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert descs and all(str(d).startswith("mpnsm:mgr_fcst_") for d in descs), descs
    assert set(descs) == {"mpnsm:mgr_fcst_sales", "mpnsm:mgr_fcst_visits"}
    assert res.forecast_tables == ["mgr_fcst_sales", "mgr_fcst_visits"]


def test_grown_panel_fit_fits_only_new_units(spark, tmp_path):
    """The reference's cache_feat skip (deprecated/ts_manager.py:123-145):
    a second fit over a grown panel fits exactly the units without a stored
    state — the new ones and one whose fit raised in the first run — and
    refits none of the stored ones (their values x1000 leave their
    predictions bitwise unchanged); a fit with nothing new appends no
    snapshot."""
    io = TableIO(str(tmp_path / "wh"))
    groups = ["region", "store"]
    panel = _panel_units(spark, 8)
    model = {"n_changepoints": 2}
    root = {"unit": {}, "horizon": 4, "targets": [{"target_col": "sales", "model": model}]}
    # s4's first fit raises: the residual re-fit has no 'forecast' mode
    broken = {"unit": {"region": "A", "store": "s4"}, "targets": [{
        "target_col": "sales",
        "model": {**model, "fit_smooth": True, "smooth_future": "forecast"}}]}
    fit_kw = dict(group_columns=groups, run_mode="fit", cfg=PipelineConfig(num_buckets=4))
    pred_kw = dict(group_columns=groups, run_mode="predict",
                   cfg=PipelineConfig(num_buckets=4, ephemeral=True))
    key = ["_unit_id", "step"]

    first = panel.filter(F.col("store").isin("s0", "s1", "s2", "s3", "s4"))
    run1 = run_manager(spark, first, io, [root, broken], **fit_kw)
    assert sum(s["errored_series"] for s in run1.stages) == 1
    assert io.read(spark, "mgr_models_sales").count() == 4
    pred1 = run_manager(spark, panel, io, [root], **pred_kw)
    pred1 = pred1.forecasts(spark, io).toPandas().sort_values(key).reset_index(drop=True)
    assert pred1["_unit_id"].nunique() == 4

    stored = [f"{'AB'[ui % 2]}\x1fs{ui}" for ui in range(4)]
    poisoned = panel.withColumn(
        "sales",
        F.when(F.col("store").isin("s0", "s1", "s2", "s3"), F.col("sales") * 1000.0)
        .otherwise(F.col("sales")),
    )
    run2 = run_manager(spark, poisoned, io, [root], **fit_kw)
    assert sum(s["output_rows"] for s in run2.stages) == 4  # only the new units
    states = io.read(spark, "mgr_models_sales").toPandas()
    assert len(states) == states["_unit_id"].nunique() == 8

    pred2 = run_manager(spark, poisoned, io, [root], **pred_kw)
    pred2 = pred2.forecasts(spark, io).toPandas().sort_values(key).reset_index(drop=True)
    assert pred2["_unit_id"].nunique() == 8
    old = pred2[pred2["_unit_id"].isin(stored)].reset_index(drop=True)
    assert (old["yhat"].to_numpy() == pred1["yhat"].to_numpy()).all()
    for ui in range(4, 8):  # the new units: fit on their own values
        uid = f"{'AB'[ui % 2]}\x1fs{ui}"
        want = TrendSeasonalOLS(**model).fit(_series(ui * 5.0)).predict(4)
        got = pred2[pred2["_unit_id"] == uid]["yhat"].to_numpy()
        assert (got == want).all(), uid

    version = io.snapshot_version("mgr_models_sales")
    run3 = run_manager(spark, poisoned, io, [root], **fit_kw)
    assert io.snapshot_version("mgr_models_sales") == version
    assert sum(s["buckets_run"] for s in run3.stages) == 0
