"""Config-driven end-to-end manager — the reference's one-call ergonomics.

Reference parity: ``TimeSeriesManager(df, group_columns, config_dict)``
(``/root/reference/mpnsm/time_series/manager.py:20-39``) builds per-unit
configs from a declarative list (entries may be defined at any prefix of the
unit hierarchy; ``generate_full_tree``, ``config.py:6-75``, fills uncovered
units from coarser entries and asserts total coverage), then ``run_all``
(``manager.py:308-313``) runs per-unit fit/predict driven entirely by the
config: targets, per-target model knobs, regressors, tuning specs, run mode
(fit_predict / fit / predict, ``manager.py:186-275``).

Spark-first translation — config as data on the rows, as the reference
gives every unit its own config (``config.py:143-165`` ``generate_dicts``):

- config entries → per-LEVEL tiny frames, broadcast-left-joined straight
  onto the input rows by :func:`~mpnsm_spark.operators.config.resolve_config`
  with a ``coalesce`` per field (J7). Every row gains ``_spec`` (index of the
  finest entry that sets ``targets``) and ``_horizon`` (finest entry that
  sets ``horizon``; null means 10), so a finer entry that sets only
  ``horizon`` inherits ``targets``. Coverage is the reference's assert; it
  costs no job when an entry with ``unit: {}`` sets ``targets``.
- ONE :func:`~mpnsm_spark.plans.pipeline.run_kernel_stage` pass per TARGET
  over every unit that forecasts it (resume + per-series error lineage):
  the kernel dispatches on the series' ``_spec`` to that spec's model knobs
  and regressor columns (null on other specs' rows; builders in
  ``functions/regressors.py``), runs the spec's grid search on the unit's
  train values (``functions.tuning.search_series``) and fits the winner,
  and reads the horizon from the unit's rows — 10 units or 10 million, one
  resolved config or a thousand, the same Spark jobs. This kernel is the
  engine's only place a model is tuned, fit and stored. Each target writes
  one table keyed by ``_unit_id``.
- ``run_mode='fit'`` stores one state row per unit
  (``functions/model_store.py``) in versioned snapshots, fitting only the
  units without a state yet — the reference's ``cache_feat`` skip
  (``deprecated/ts_manager.py:123-145``), so a fit over a grown panel fits
  the new units; ``'predict'`` reloads and forecasts without re-fitting —
  the reference's fit-data save / reload split (manager.py:222-275).

Config shape (JSON/YAML-able; every value plain data)::

    [
      {"unit": {},                      # coarsest — applies to every unit
       "horizon": 6,
       "targets": [
         {"target_col": "value",
          "model": {"n_changepoints": 2, "seasonality": [[12, 1]]},
          "regressors": [
            {"kind": "lag", "col": "value", "lags": [1]},
            {"kind": "special_event", "name": "promo",
             "dates": [{"date": "2024-01-05"}]},
            {"kind": "big_changer", "dates": ["2024-01-10"]}],
          "tuning": {"grid": {"n_changepoints": [1, 2]},
                     "metric": "wmape", "n_folds": 2, "horizon": 4}}]},
      {"unit": {"region": "EU"},        # finer — overrides for EU units
       "horizon": 12},                  # targets inherited from the root
    ]

Train/future split: rows where the target column is null (or where an
explicit ``is_train`` column is false) are the FUTURE grid — the reference's
contract that "features data must already have future data"
(manager.py:26). A unit with future rows forecasts exactly those rows (a
target with regressors takes their regressor values from them); a unit
without future rows forecasts ``horizon`` steps, which targets with
regressors cannot do.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpnsm_spark.operators.config import resolve_config
from mpnsm_spark.plans.pipeline import (
    KernelStage,
    PipelineConfig,
    _kernel_result,
    _run_kernel_buckets,
    keeps_job_description,
    run_kernel_stage,
)
from mpnsm_spark.session import local_frame
from mpnsm_spark.sources.tableio import TableIO

__all__ = ["run_manager", "load_config", "resolve_unit_configs"]

_SEP = "\x1f"
_ROOT = "_root"
_INT_MODEL_KEYS = {"n_changepoints", "min_distance", "smooth_window"}
# Targets whose jobs run_manager submits concurrently.
PARALLEL_FLOWS = 4


def load_config(path: str):
    """Load a manager config from JSON (always available) or YAML (when
    PyYAML is installed — import-gated, this sandbox ships without it)."""
    with open(path) as fh:
        text = fh.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "YAML config requires PyYAML; use JSON in this environment"
            ) from e
        return yaml.safe_load(text)
    return json.loads(text)


def _levels(config: list[dict]) -> list[tuple[list[str], list[tuple[int, dict]]]]:
    """Group ``(index, entry)`` pairs by the entry's unit-key set, coarse →
    fine. Entries at one level must not repeat a unit value (that would fan
    out the join)."""
    by_keys: dict[tuple[str, ...], list[tuple[int, dict]]] = {}
    for i, entry in enumerate(config):
        keys = tuple(sorted(entry.get("unit") or {}))
        by_keys.setdefault(keys, []).append((i, entry))
    levels = sorted(by_keys.items(), key=lambda kv: len(kv[0]))
    for keys, entries in levels:
        seen = set()
        for _, e in entries:
            val = tuple(str((e.get("unit") or {}).get(k)) for k in keys)
            if val in seen:
                raise ValueError(f"duplicate config entry for unit {dict(zip(keys, val))}")
            seen.add(val)
    return [(list(k), v) for k, v in levels]


def _resolve_rows(spark: SparkSession, df: DataFrame, config: list[dict]) -> DataFrame:
    """``df`` plus ``_spec`` (index of the finest entry that sets
    ``targets``) and ``_horizon`` (finest entry that sets ``horizon``) on
    every row — finest entry wins per FIELD, J7 through
    :func:`resolve_config`. Nulls mean no entry sets the field."""
    level_tables = []
    for keys, entries in _levels(config):
        rows = [
            tuple(str(e["unit"][k]) for k in keys)
            + (
                i if e.get("targets") is not None else None,
                int(e["horizon"]) if e.get("horizon") is not None else None,
            )
            for i, e in entries
        ]
        schema = "".join(f"`{k}` string, " for k in keys) + "_spec int, _horizon int"
        lvl = local_frame(spark, rows, schema).withColumn(_ROOT, F.lit(1))
        level_tables.append(([*keys, _ROOT], lvl))
    # Coverage is asserted on targets only (_check_coverage): horizon may
    # stay null, so resolve_config's all-fields check would over-reject.
    resolved = resolve_config(
        df.withColumn(_ROOT, F.lit(1)), level_tables, ["_spec", "_horizon"],
        require_full_coverage=False,
    )
    return resolved.drop(_ROOT)


def _check_coverage(resolved: DataFrame, config: list[dict], units: list[str]) -> None:
    """The reference's coverage assert (``config.py:71-73``) on the
    required field. A root entry that sets ``targets`` covers every unit by
    construction, so the check then submits no job."""
    if any(not e.get("unit") and e.get("targets") is not None for e in config):
        return
    missing = resolved.filter(F.col("_spec").isNull()).select(*units).limit(1).collect()
    if missing:
        raise ValueError(
            f"config does not cover all units (example: {missing[0].asDict()})"
        )


def resolve_unit_configs(
    spark: SparkSession, df: DataFrame, group_columns: list[str], config: list[dict]
) -> DataFrame:
    """Per-unit resolved config: one row per distinct unit with its
    ``targets_json`` / ``horizon`` (finest entry wins per FIELD), through the
    same level tables and coverage assert as :func:`run_manager`."""
    resolved = _resolve_rows(spark, df.select(*group_columns).distinct(), config)
    _check_coverage(resolved, config, group_columns)
    targets = [F.lit(json.dumps(e.get("targets"), sort_keys=True)) for e in config]
    return resolved.select(
        *group_columns,
        F.element_at(F.array(*targets), F.col("_spec") + 1).alias("targets_json"),
        F.col("_horizon").alias("horizon"),
    )


def _target_specs(config: list[dict], persist: bool) -> dict[str, dict[int, dict]]:
    """target column → {config entry index: that entry's spec for it}, in
    first-seen order. Validates every spec on the driver, before any job."""
    targets: dict[str, dict[int, dict]] = {}
    for i, entry in enumerate(config):
        for spec in entry.get("targets") or []:
            forecaster = (spec.get("model") or {}).get("forecaster", "trend_seasonal_ols")
            if forecaster not in ("trend_seasonal_ols", "linear_hinge"):
                raise ValueError(
                    f"unknown forecaster {forecaster!r}; "
                    "use 'trend_seasonal_ols' or 'linear_hinge'"
                )
            # linear_hinge's whole state is the three betas its SQL twin
            # re-derives (functions/model.py linear_hinge_forecaster).
            if forecaster == "linear_hinge" and (
                spec.get("regressors") or spec.get("tuning") or persist
            ):
                raise ValueError(
                    "linear_hinge supports neither regressors, tuning, nor "
                    "fit-mode state persistence"
                )
            if spec.get("tuning"):
                _tune(spec["tuning"], np.empty(0))  # checks the spec's options
            targets.setdefault(spec["target_col"], {})[i] = spec
    return targets


def _model_kwargs(spec: dict, tuned: dict[str, float] | None = None) -> dict:
    kwargs = dict(spec.get("model") or {})
    # forecaster selection keys are consumed by _make_fit_kernel, not the model
    kwargs.pop("forecaster", None)
    kwargs.pop("knot_frac", None)
    if tuned:
        kwargs.update(tuned)
    for k in list(kwargs):
        if k in _INT_MODEL_KEYS and kwargs[k] is not None:
            kwargs[k] = int(kwargs[k])
    if kwargs.get("seasonality"):
        kwargs["seasonality"] = tuple(
            (float(p), int(o)) for p, o in kwargs["seasonality"]
        )
    return kwargs


def _apply_regressors(df: DataFrame, spec_id: int, spec: dict, order_col: str,
                      date_col: str) -> tuple[DataFrame, list[str]]:
    """Materialize one spec's declarative regressors via the builders, under
    spec-scoped names and null on the rows of other specs; returns the
    enriched frame plus the regressor column names in spec order."""
    from mpnsm_spark.functions.regressors import (
        _norm_name,
        with_big_changer_regressors,
        with_lagged_regressors,
        with_special_event_regressor,
    )

    cols: list[str] = []
    for reg in spec.get("regressors") or []:
        kind = reg["kind"]
        if kind == "lag":
            lags = [int(k) for k in reg["lags"]]
            df = with_lagged_regressors(
                df, {reg["col"]: lags}, key="_unit_id", order_col=order_col,
                fill=reg.get("fill", 0.0),
            )
            cols += [f"{reg['col']}_lag{k}" for k in lags]
        elif kind == "special_event":
            df = with_special_event_regressor(
                df, reg["name"], reg["dates"], date_col=reg.get("date_col", date_col)
            )
            cols.append(f"is_{reg['name']}")
        elif kind == "big_changer":
            dates = [tuple(d) if isinstance(d, list) else d for d in reg["dates"]]
            df = with_big_changer_regressors(
                df, dates, date_col=reg.get("date_col", date_col)
            )
            for d in dates:
                cols.append(
                    f"between_{_norm_name(d[0])}_{_norm_name(d[1])}"
                    if isinstance(d, tuple)
                    else f"after_{_norm_name(d)}"
                )
        else:
            raise ValueError(f"unknown regressor kind {kind!r}")
    scoped = [f"_x{spec_id}_{c}" for c in cols]
    own = F.col("_spec") == spec_id
    return df.select(
        "*", *[F.when(own, F.col(c)).alias(n) for c, n in zip(cols, scoped)]
    ).drop(*cols), scoped


def _tune(tuning: dict, y: np.ndarray) -> dict[str, float] | None:
    """The spec's grid search on one unit's train values: its winning
    params, or None when no fold has enough train rows. Candidates are
    scored with the grid's knobs alone (``ols_forecaster``)."""
    from mpnsm_spark.functions.model import ols_forecaster
    from mpnsm_spark.functions.tuning import search_series

    found = search_series(
        y,
        tuning["grid"],
        ols_forecaster,
        metric=tuning.get("metric", "wmape"),
        chooser=tuning.get("chooser", "global_min"),
        n_folds=int(tuning.get("n_folds", 3)),
        horizon=int(tuning.get("horizon", 10)),
        jump=int(tuning.get("jump", 5)),
        min_train=int(tuning.get("min_train", 5)),
    )
    return None if found is None else found[0]


@dataclass
class ManagerResult:
    forecast_tables: list[str] = field(default_factory=list)
    model_tables: list[str] = field(default_factory=list)
    # Ephemeral runs (PipelineConfig.ephemeral) return the forecast FRAMES
    # directly — no table was written, so nothing can be read back.
    forecast_frames: list[DataFrame] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    def forecasts(self, spark: SparkSession, io: TableIO) -> DataFrame:
        if self.forecast_frames and self.forecast_tables:
            raise ValueError("manager run mixed ephemeral and persisted forecasts")
        frames = self.forecast_frames or [io.read(spark, t) for t in self.forecast_tables]
        if not frames:
            raise FileNotFoundError("manager wrote no forecast tables")
        # kernel-stage tables carry bookkeeping columns (_v snapshot tag,
        # bucket_id salt) that are not part of the forecast contract
        return reduce(DataFrame.unionByName, [f.drop("_v", "bucket_id") for f in frames])


@keeps_job_description
def run_manager(
    spark: SparkSession,
    df: DataFrame,
    io: TableIO,
    config: list[dict],
    group_columns: list[str],
    order_col: str = "turn_idx",
    date_col: str | None = None,
    is_train_col: str | None = None,
    run_mode: str = "fit_predict",
    min_train: int = 8,
    cfg: PipelineConfig | None = None,
) -> ManagerResult:
    """One declarative call: resolve each unit's config onto its rows, then
    per target build regressors and run ONE kernel-stage pass over every
    unit that forecasts it — tuning, fit and forecast inside the per-series
    kernel (error lineage included).

    ``run_mode``: ``'fit_predict'`` forecasts into ``mgr_fcst_<target>``
    tables (bucket resume); ``'fit'`` persists fitted model state into
    ``mgr_models_<target>`` tables (no forecast) for the units without a
    stored state; ``'predict'`` reloads persisted state and forecasts into
    ``mgr_fcst_<target>`` WITHOUT re-fitting (requires a prior ``'fit'``
    run).

    Up to :data:`PARALLEL_FLOWS` targets submit their Spark jobs
    concurrently from driver threads (distinct output/lineage tables, commit
    lock in TableIO). Jobs the call submits from the caller's thread are
    labelled ``mpnsm:manager``; the caller's own job description is restored
    on return.
    """
    if run_mode not in ("fit_predict", "fit", "predict"):
        raise ValueError(f"run_mode must be fit_predict|fit|predict, got {run_mode!r}")
    cfg = cfg or PipelineConfig()
    if cfg.ephemeral and run_mode == "fit":
        raise ValueError(
            "ephemeral runs cannot persist model state; use run_mode="
            "'fit_predict'/'predict' or a durable PipelineConfig"
        )
    targets = _target_specs(config, persist=run_mode != "fit_predict")
    date_col = date_col or order_col
    spark.sparkContext.setJobDescription("mpnsm:manager")
    rows = _resolve_rows(spark, df, config)
    _check_coverage(rows, config, group_columns)
    rows = rows.withColumns({
        "_unit_id": F.concat_ws(_SEP, *[F.col(c).cast("string") for c in group_columns]),
        "_horizon": F.coalesce("_horizon", F.lit(10)),
    })

    def run_target(target: str):
        """One target's pass over every unit whose spec names it. Returns
        (stage result or None, table name or ephemeral frame)."""
        specs = targets[target]
        is_train = F.col(is_train_col) if is_train_col else F.col(target).isNotNull()
        t_df = rows.filter(F.col("_spec").isin(*specs)).withColumn("_is_train", is_train)
        reg_cols: dict[int, list[str]] = {}
        for i, spec in specs.items():
            t_df, reg_cols[i] = _apply_regressors(t_df, i, spec, order_col, date_col)

        if run_mode == "predict":
            return _predict(spark, io, t_df, target, reg_cols, order_col, cfg)

        keep = ["_unit_id", "_spec", "_horizon", order_col, target, "_is_train",
                *[c for cols in reg_cols.values() for c in cols]]
        src = t_df.select(*dict.fromkeys(keep))
        kernel = _make_fit_kernel(specs, reg_cols, target, min_train, run_mode == "fit")
        if run_mode == "fit":
            from mpnsm_spark.functions.model_store import MODEL_STATE_SCHEMA

            stage = KernelStage(f"mgr_models_{target}", kernel, MODEL_STATE_SCHEMA,
                                order_col=order_col)
            return _fit_new_units(spark, io, stage, src, cfg, min_train), stage.name
        stage = KernelStage(f"mgr_fcst_{target}", kernel,
                            "_unit_id string, target string, step int, yhat double",
                            order_col=order_col)
        res = run_kernel_stage(spark, io, stage, src, cfg, key="_unit_id")
        return res, res.pop("frame") if cfg.ephemeral else stage.name

    # Targets are independent — the reference runs its per-unit loop under
    # joblib (deprecated/ts_manager.py); here each target is already one
    # distributed pass, so concurrency means overlapping Spark JOB
    # SUBMISSION from driver threads. Results land in config order so
    # output table lists stay deterministic.
    with ThreadPoolExecutor(max_workers=PARALLEL_FLOWS) as pool:
        outs = list(pool.map(run_target, targets))
    result = ManagerResult(stages=[res for res, _ in outs if res is not None])
    made = [out for _, out in outs]
    if cfg.ephemeral:
        result.forecast_frames = made
    elif run_mode == "fit":
        result.model_tables = made
    else:
        result.forecast_tables = made
    return result


def _predict(spark: SparkSession, io: TableIO, t_df: DataFrame, target: str,
             reg_cols: dict[int, list[str]], order_col: str, cfg: PipelineConfig):
    """Predict mode for one target: its stored states, loaded once, joined to
    each unit's step count — the unit's future rows when it has any, else
    its ``_horizon`` — and, for specs with regressors, the future rows'
    regressor values in ``order_col`` order. Units without a stored state
    (or absent from ``t_df``) forecast nothing."""
    from mpnsm_spark.functions.model_store import load_model_states, predict_from_states

    table = f"mgr_fcst_{target}"
    spark.sparkContext.setJobDescription(f"mpnsm:{table}")
    future = ~F.col("_is_train")
    n_future = F.count_if(future)
    steps = F.when(n_future > 0, n_future).otherwise(F.max("_horizon"))
    per_unit = [steps.alias("horizon")]
    with_regs = [i for i, cols in reg_cols.items() if cols]
    if with_regs:
        x = F.coalesce(*[F.when(F.col("_spec") == i, F.array(*reg_cols[i]))
                         for i in with_regs]).cast("array<double>")
        rows = F.array_sort(F.collect_list(
            F.when(future, F.struct(F.col(order_col).alias("o"), x.alias("x")))
        ))
        per_unit.append(
            F.when(F.max("_spec").isin(with_regs), F.transform(rows, lambda r: r["x"]))
            .alias("extra")
        )
    units = t_df.groupBy("_unit_id").agg(*per_unit)
    states = load_model_states(spark, io, f"mgr_models_{target}").join(units, "_unit_id")
    fcst = predict_from_states(states, "horizon")
    if cfg.ephemeral:
        return None, fcst
    io.append(fcst, table, meta={"run_mode": "predict"})
    return None, table


def _fit_new_units(spark: SparkSession, io: TableIO, stage: KernelStage,
                   src: DataFrame, cfg: PipelineConfig, min_train: int) -> dict:
    """Fit mode's stage: fit the units of ``src`` that have no state in
    ``stage.name`` yet (an anti-join on the stored units, the reference's
    ``cache_feat`` skip) over every salt bucket — bucket lineage cannot tell
    a grown panel's new units from the fitted ones. When the table exists,
    one probe job checks for a unit left to fit (``min_train`` train rows,
    no state); without one the run appends nothing. A unit whose fit raised
    has no state, so the next fit retries it."""
    if io.exists(stage.name):
        spark.sparkContext.setJobDescription(f"mpnsm:{stage.name}")
        stored = io.read(spark, stage.name).select("_unit_id")
        src = src.join(F.broadcast(stored), "_unit_id", "left_anti")
        todo = src.filter("_is_train").groupBy("_unit_id").count()
        if not todo.filter(F.col("count") >= min_train).take(1):
            return _kernel_result(stage.name, 0)
    return _run_kernel_buckets(spark, io, stage, src, cfg, "_unit_id",
                               list(range(cfg.num_buckets)))


def _make_fit_kernel(specs: dict[int, dict], reg_cols: dict[int, list[str]],
                     target: str, min_train: int, emit_state: bool):
    """Per-series kernel: dispatch on the series' ``_spec`` to that spec's
    model knobs, regressor columns and tuning; split train/future; run the
    spec's grid search on the train values (:func:`_tune`); fit
    TrendSeasonalOLS (with the winning params and regressor extras) and emit
    forecast rows — or, in fit mode, one model-state row
    (:data:`~mpnsm_spark.functions.model_store.MODEL_STATE_SCHEMA`). A series
    with future rows forecasts them; one without forecasts its ``_horizon``.

    ``model.forecaster`` selects the fit: ``"trend_seasonal_ols"`` (default,
    the reference-parity model) or ``"linear_hinge"`` — the fixed 3-basis
    Cramer's-rule fit (functions/model.py ``linear_hinge_forecaster``) whose
    decimal contract lets an ANSI engine replay the forecast bitwise (the
    driver's SQL-oracle seam); :func:`_target_specs` rejects it with
    regressors, tuning or fit-mode state."""
    from mpnsm_spark.functions.model import TrendSeasonalOLS, linear_hinge_forecaster
    from mpnsm_spark.functions.model_store import state_row

    def forecast(uid, yhat: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "_unit_id": uid,
            "target": target,
            "step": np.arange(1, len(yhat) + 1, dtype=np.int32),
            "yhat": yhat,
        })

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        i = int(pdf["_spec"].iat[0])
        spec, cols = specs[i], reg_cols[i]
        model_cfg = spec.get("model") or {}
        is_train = pdf["_is_train"].to_numpy(bool)
        y = pdf[target].to_numpy(np.float64)[is_train]
        if len(y) < min_train:
            return pd.DataFrame()  # apply_per_series drops zero-row results
        uid = pdf["_unit_id"].iat[0]
        n_future = len(is_train) - len(y)
        steps = n_future or int(pdf["_horizon"].iat[0])
        if model_cfg.get("forecaster") == "linear_hinge":
            knot_frac = float(model_cfg.get("knot_frac", 0.5))
            return forecast(uid, linear_hinge_forecaster(y, steps, knot_frac))
        tuned = _tune(spec["tuning"], y) if spec.get("tuning") else None
        kwargs = _model_kwargs(spec, tuned)
        extra = pdf[cols].to_numpy(np.float64) if cols else None
        m = TrendSeasonalOLS(**kwargs).fit(y, None if extra is None else extra[is_train])
        if emit_state:
            return state_row(uid, target, kwargs, m)
        if extra is not None and not n_future:
            raise ValueError(
                f"target {target!r} has regressors but no future rows — "
                "future feature data must be present (reference contract)"
            )
        return forecast(
            uid, m.predict(steps, extra=None if extra is None else extra[~is_train])
        )

    return kernel
