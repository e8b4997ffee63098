"""Config-driven end-to-end manager — the reference's one-call ergonomics.

Reference parity: ``TimeSeriesManager(df, group_columns, config_dict)``
(``/root/reference/mpnsm/time_series/manager.py:20-39``) builds per-unit
configs from a declarative list (entries may be defined at any prefix of the
unit hierarchy; ``generate_full_tree``, ``config.py:6-75``, fills uncovered
units from coarser entries and asserts total coverage), then ``run_all``
(``manager.py:308-313``) runs per-unit fit/predict driven entirely by the
config: targets, per-target model knobs, regressors, tuning specs, run mode
(fit_predict / fit / predict, ``manager.py:186-275``).

Spark-first translation:

- config entries → per-LEVEL tiny DataFrames; inheritance is
  :func:`~mpnsm_spark.operators.config.resolve_config` — one chain of
  broadcast left-joins + a ``coalesce`` per config field (J7), with the
  reference's coverage assert. Field-level inheritance: a finer entry that
  sets only ``horizon`` inherits ``targets`` from the coarser level.
- each DISTINCT resolved config drives ONE distributed flow over all its
  units at once (semi-join restriction, J6) — the reference's per-unit
  joblib loop becomes per-series grouped kernels, so 10 units or 10 million
  is the same number of Spark jobs.
- regressor specs name the declarative builders in
  ``functions/regressors.py``; tuning specs run
  ``functions.tuning.tune_grid_per_series`` and feed per-series winners into
  the fit; the forecast itself executes through
  :func:`~mpnsm_spark.plans.pipeline.run_kernel_stage`, inheriting
  bucket-level resume + per-series error lineage.
- ``run_mode='fit'`` persists fitted state through
  ``functions/model_store.py`` (versioned snapshots); ``'predict'`` reloads
  and forecasts without re-fitting — the reference's fit-data save / reload
  split (manager.py:222-275).

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
(manager.py:26). Targets with regressors forecast exactly those future rows
(their regressor values come from the future rows); targets without
regressors may instead forecast ``horizon`` steps when no future rows exist.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpnsm_spark.operators.config import resolve_config, semi_join_units
from mpnsm_spark.plans.pipeline import KernelStage, PipelineConfig, run_kernel_stage
from mpnsm_spark.session import local_frame
from mpnsm_spark.sources.tableio import TableIO

__all__ = ["run_manager", "load_config", "resolve_unit_configs"]

_SEP = "\x1f"
_ROOT = "_root"
_CONFIG_FIELDS = ("targets_json", "horizon")
_INT_MODEL_KEYS = {"n_changepoints", "min_distance", "smooth_window"}
# (group, target) flows whose jobs run_manager submits concurrently.
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


def _levels(config: list[dict]) -> list[tuple[list[str], list[dict]]]:
    """Group config entries by their unit-key set, coarse → fine. Entries at
    one level must not repeat a unit value (that would fan out the join)."""
    by_keys: dict[tuple[str, ...], list[dict]] = {}
    for entry in config:
        unit = entry.get("unit") or {}
        keys = tuple(sorted(unit))
        by_keys.setdefault(keys, []).append(entry)
    levels = sorted(by_keys.items(), key=lambda kv: len(kv[0]))
    for keys, entries in levels:
        seen = set()
        for e in entries:
            val = tuple(str((e.get("unit") or {}).get(k)) for k in keys)
            if val in seen:
                raise ValueError(f"duplicate config entry for unit {dict(zip(keys, val))}")
            seen.add(val)
    return [(list(k), v) for k, v in levels]


def resolve_unit_configs(
    spark: SparkSession, df: DataFrame, group_columns: list[str], config: list[dict]
) -> DataFrame:
    """Per-unit resolved config: one row per distinct unit with coalesced
    ``targets_json`` / ``horizon`` (finest entry wins per FIELD — J7 through
    :func:`resolve_config`, coverage-asserted like the reference)."""
    units = (
        df.select(*group_columns).distinct().withColumn(_ROOT, F.lit(1))
    )
    level_tables = []
    for keys, entries in _levels(config):
        rows = []
        for e in entries:
            unit = e.get("unit") or {}
            targets = e.get("targets")
            rows.append(
                tuple(str(unit[k]) for k in keys)
                + (
                    json.dumps(targets, sort_keys=True) if targets is not None else None,
                    int(e["horizon"]) if e.get("horizon") is not None else None,
                )
            )
        schema = ", ".join(f"`{k}` string" for k in keys)
        schema = (schema + ", " if schema else "") + "targets_json string, horizon int"
        lvl = local_frame(spark, rows, schema).withColumn(_ROOT, F.lit(1))
        level_tables.append(([*keys, _ROOT], lvl))
    # Coverage is asserted on targets only: horizon is allowed to stay null
    # (run_manager defaults it), so resolve_config's all-fields check would
    # over-reject — replicate the reference's assert on the required field.
    resolved = resolve_config(
        units, level_tables, list(_CONFIG_FIELDS), require_full_coverage=False
    )
    # One row per distinct unit — materialize ONCE: the coverage check below,
    # run_manager's distinct-groups collect, and every group's unit filter
    # would otherwise each re-run the distinct-over-input + config joins.
    resolved = resolved.localCheckpoint(eager=True)
    missing = resolved.filter(F.col("targets_json").isNull())
    if missing.limit(1).count():
        raise ValueError(
            "config does not cover all units "
            f"(example: {missing.limit(1).collect()[0].asDict()})"
        )
    return resolved.drop(_ROOT)


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


def _apply_regressors(df: DataFrame, specs: list[dict], key: str,
                      order_col: str, date_col: str) -> tuple[DataFrame, list[str]]:
    """Materialize declarative regressor specs via the builders; returns the
    enriched frame plus the regressor column names in spec order."""
    from mpnsm_spark.functions.regressors import (
        with_big_changer_regressors,
        with_lagged_regressors,
        with_special_event_regressor,
    )

    cols: list[str] = []
    for spec in specs or []:
        kind = spec["kind"]
        if kind == "lag":
            lags = [int(k) for k in spec["lags"]]
            df = with_lagged_regressors(
                df, {spec["col"]: lags}, key=key, order_col=order_col,
                fill=spec.get("fill", 0.0),
            )
            cols += [f"{spec['col']}_lag{k}" for k in lags]
        elif kind == "special_event":
            df = with_special_event_regressor(
                df, spec["name"], spec["dates"], date_col=spec.get("date_col", date_col)
            )
            cols.append(f"is_{spec['name']}")
        elif kind == "big_changer":
            dates = [tuple(d) if isinstance(d, list) else d for d in spec["dates"]]
            df = with_big_changer_regressors(
                df, dates, date_col=spec.get("date_col", date_col)
            )
            from mpnsm_spark.functions.regressors import _norm_name

            for d in dates:
                cols.append(
                    f"between_{_norm_name(d[0])}_{_norm_name(d[1])}"
                    if isinstance(d, tuple)
                    else f"after_{_norm_name(d)}"
                )
        else:
            raise ValueError(f"unknown regressor kind {kind!r}")
    return df, cols


def _tuned_params_col(df: DataFrame, spec: dict, key: str, order_col: str,
                      target: str, is_train: F.Column) -> DataFrame:
    """Run the configured grid search on TRAIN rows and attach each series'
    winning params as one array<struct> column (``_tuned``)."""
    from mpnsm_spark.functions.model import ols_forecaster
    from mpnsm_spark.functions.tuning import tune_grid_per_series

    tuning = spec["tuning"]
    tall = tune_grid_per_series(
        df.filter(is_train),
        tuning["grid"],
        ols_forecaster,
        metric=tuning.get("metric", "wmape"),
        chooser=tuning.get("chooser", "global_min"),
        n_folds=int(tuning.get("n_folds", 3)),
        horizon=int(tuning.get("horizon", 10)),
        jump=int(tuning.get("jump", 5)),
        min_train=int(tuning.get("min_train", 5)),
        key=key,
        order_col=order_col,
        value_col=target,
    )
    wide = tall.groupBy(F.col("conv_id").alias(key)).agg(
        F.collect_list(F.struct("param", "value")).alias("_tuned")
    )
    return df.join(wide, key, "left")


@dataclass
class ManagerResult:
    forecast_tables: list[str] = field(default_factory=list)
    model_tables: list[str] = field(default_factory=list)
    # Ephemeral runs (PipelineConfig.ephemeral) return the forecast FRAMES
    # directly — no table was written, so nothing can be read back.
    forecast_frames: list[DataFrame] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    groups: int = 0

    def forecasts(self, spark: SparkSession, io: TableIO) -> DataFrame:
        if self.forecast_frames:
            out = None
            for df in self.forecast_frames:
                df = df.drop("_v", "bucket_id")
                out = df if out is None else out.unionByName(df)
            if self.forecast_tables:
                raise ValueError(
                    "manager run mixed ephemeral and persisted forecasts"
                )
            return out
        out = None
        for t in self.forecast_tables:
            df = io.read(spark, t)
            # kernel-stage tables carry bookkeeping columns (_v snapshot tag,
            # bucket_id salt) that are not part of the forecast contract
            df = df.drop("_v", "bucket_id")
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise FileNotFoundError("manager wrote no forecast tables")
        return out


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
    """One declarative call: resolve per-unit configs, then per distinct
    config run regressor building → optional tuning → per-series fit/forecast
    through :func:`run_kernel_stage` (resume + error lineage included).

    ``run_mode``: ``'fit_predict'`` forecasts into ``mgr_fcst_*`` tables;
    ``'fit'`` persists fitted model state into ``mgr_models_<target>``
    tables (no forecast); ``'predict'`` reloads persisted state and
    forecasts WITHOUT re-fitting (requires a prior ``'fit'`` run).

    Up to :data:`PARALLEL_FLOWS` (group, target) flows submit their Spark
    jobs concurrently from driver threads. Flows are independent by
    construction — distinct output/lineage tables, commit lock in TableIO —
    so this only overlaps job submission, keeping executors busy while
    another flow sits in a driver-side collect/commit.
    """
    if run_mode not in ("fit_predict", "fit", "predict"):
        raise ValueError(f"run_mode must be fit_predict|fit|predict, got {run_mode!r}")
    cfg = cfg or PipelineConfig()
    if cfg.ephemeral and run_mode == "fit":
        raise ValueError(
            "ephemeral runs cannot persist model state; use run_mode="
            "'fit_predict'/'predict' or a durable PipelineConfig"
        )
    date_col = date_col or order_col
    resolved = resolve_unit_configs(spark, df, group_columns, config)
    # few distinct resolved configs by construction — driver-side group list
    groups = sorted(
        (
            (r["targets_json"], r["horizon"])
            for r in resolved.select("targets_json", "horizon").distinct().collect()
        ),
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    result = ManagerResult(groups=len(groups))
    unit_id = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in group_columns])

    tasks = []
    for gi, (targets_json, horizon) in enumerate(groups):
        targets = json.loads(targets_json)
        cond = F.col("targets_json") == targets_json
        cond = cond & (
            F.col("horizon").isNull()
            if horizon is None
            else (F.col("horizon") == horizon)
        )
        g_units = resolved.filter(cond).select(*group_columns)
        g_df = semi_join_units(df, g_units, group_columns).withColumn(
            "_unit_id", unit_id
        )
        g_ids = g_units.select(unit_id.alias("_unit_id"))
        horizon_default = int(horizon) if horizon is not None else 10
        for spec in targets:
            tasks.append((gi, g_df, g_ids, horizon_default, spec))

    def run_target(
        gi: int, g_df: DataFrame, g_ids: DataFrame, horizon_default: int, spec: dict
    ):
        """One (resolved-config group, target) flow — independent of every
        other task: distinct output tables, lineage appends serialized by
        TableIO's commit lock. Returns (kind, table, stage_result)."""
        target = spec["target_col"]
        is_train = (
            F.col(is_train_col) if is_train_col else F.col(target).isNotNull()
        )
        t_df, reg_cols = _apply_regressors(
            g_df, spec.get("regressors"), "_unit_id", order_col, date_col
        )
        if spec.get("tuning"):
            t_df = _tuned_params_col(
                t_df, spec, "_unit_id", order_col, target, is_train
            )
        has_tuned = "_tuned" in t_df.columns
        t_df = t_df.withColumn("_is_train", is_train)

        if run_mode == "predict":
            from mpnsm_spark.functions.model_store import (
                load_model_states,
                predict_from_states,
            )

            # The model table holds every group's units: serve only this
            # group's, at this group's horizon.
            states = load_model_states(
                spark, io, f"mgr_models_{target}", target=target,
                key_col="_unit_id",
            ).join(g_ids, "_unit_id", "left_semi")
            fcst = predict_from_states(
                states.withColumnRenamed("_unit_id", "conv_id"), horizon_default
            ).withColumnRenamed("conv_id", "_unit_id")
            if cfg.ephemeral:
                return ("forecast_frame", fcst, None)
            table = f"mgr_fcst_{gi}_{target}"
            io.append(fcst, table, meta={"run_mode": "predict"})
            return ("forecast", table, None)

        keep = ["_unit_id", order_col, target, "_is_train", *reg_cols] + (
            ["_tuned"] if has_tuned else []
        )
        src = t_df.select(*dict.fromkeys(keep))
        kernel = _make_fit_kernel(
            spec, reg_cols, order_col, target, horizon_default,
            min_train, has_tuned, emit_state=(run_mode == "fit"),
        )
        if run_mode == "fit":
            from mpnsm_spark.functions.model_store import MODEL_STATE_SCHEMA

            # model_store schema keyed by the manager's composite unit id
            stage_schema = MODEL_STATE_SCHEMA.replace("conv_id", "_unit_id")
            table = f"mgr_models_{target}"
        else:
            stage_schema = "_unit_id string, target string, step int, yhat double"
            table = f"mgr_fcst_{gi}_{target}"
        stage = KernelStage(
            name=table,
            fn=kernel,
            output_schema=stage_schema,
            order_col=order_col,
        )
        res = run_kernel_stage(spark, io, stage, src, cfg, key="_unit_id")
        if cfg.ephemeral:
            return ("forecast_frame", res.pop("frame"), res)
        return ("model" if run_mode == "fit" else "forecast", table, res)

    # (group, target) flows are independent — the reference runs its per-unit
    # loop under joblib (deprecated/ts_manager.py); here each flow is already
    # one distributed job, so concurrency means overlapping Spark JOB
    # SUBMISSION from driver threads (fills the cluster while another flow is
    # in a driver-side collect or commit). Results land in task order so
    # output table lists stay deterministic.
    with ThreadPoolExecutor(max_workers=PARALLEL_FLOWS) as pool:
        outs = list(pool.map(lambda t: run_target(*t), tasks))
    for kind, obj, res in outs:
        if res is not None:
            result.stages.append(res)
        if kind == "model":
            result.model_tables.append(obj)
        elif kind == "forecast":
            result.forecast_tables.append(obj)
        else:
            result.forecast_frames.append(obj)
    return result


def _make_fit_kernel(spec: dict, reg_cols: list[str], order_col: str,
                     target: str, horizon_default: int, min_train: int,
                     has_tuned: bool, emit_state: bool):
    """Per-series kernel: split train/future, fit TrendSeasonalOLS (with
    tuned overrides and regressor extras), emit forecast rows — or, in fit
    mode, one model-state row (model_store schema keyed by _unit_id).

    ``model.forecaster`` selects the fit: ``"trend_seasonal_ols"`` (default,
    the reference-parity model) or ``"linear_hinge"`` — the fixed 3-basis
    Cramer's-rule fit (functions/model.py ``linear_hinge_forecaster``) whose
    decimal contract lets an ANSI engine replay the forecast bitwise (the
    driver's SQL-oracle seam). linear_hinge takes no regressors, no tuning
    and no fit-mode state (its whole state is the three betas the SQL twin
    re-derives), so those combinations raise up front."""
    from mpnsm_spark.functions.model import TrendSeasonalOLS, linear_hinge_forecaster

    model_cfg = spec.get("model") or {}
    forecaster = model_cfg.get("forecaster", "trend_seasonal_ols")
    if forecaster not in ("trend_seasonal_ols", "linear_hinge"):
        raise ValueError(
            f"unknown forecaster {forecaster!r}; "
            "use 'trend_seasonal_ols' or 'linear_hinge'"
        )
    if forecaster == "linear_hinge" and (reg_cols or has_tuned or emit_state):
        raise ValueError(
            "linear_hinge supports neither regressors, tuning, nor "
            "fit-mode state persistence"
        )
    knot_frac = float(model_cfg.get("knot_frac", 0.5))

    fcst_cols = ["_unit_id", "target", "step", "yhat"]
    state_cols = [
        "_unit_id", "target", "params_json", "n_train", "changepoints",
        "beta", "smooth_fill", "smooth_train",
    ]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = state_cols if emit_state else fcst_cols
        empty = pd.DataFrame({c: [] for c in cols}).astype(
            {"n_train": "int32", "smooth_fill": float}
            if emit_state
            else {"step": "int32", "yhat": float}
        )
        train = pdf[pdf["_is_train"].astype(bool)]
        future = pdf[~pdf["_is_train"].astype(bool)]
        y = train[target].to_numpy(np.float64)
        if len(y) < min_train:
            return empty
        if forecaster == "linear_hinge":
            h = len(future) if len(future) else horizon_default
            return pd.DataFrame(
                {
                    "_unit_id": pdf["_unit_id"].iloc[0],
                    "target": target,
                    "step": np.arange(1, h + 1, dtype=np.int32),
                    "yhat": linear_hinge_forecaster(y, h, knot_frac),
                }
            )
        tuned = None
        if has_tuned:
            entries = train["_tuned"].iloc[0]
            if entries is not None and len(entries):
                tuned = {e["param"]: e["value"] for e in entries}
        kwargs = _model_kwargs(spec, tuned)
        extra_tr = train[reg_cols].to_numpy(np.float64) if reg_cols else None
        m = TrendSeasonalOLS(**kwargs).fit(y, extra_tr)
        if emit_state:
            return pd.DataFrame(
                {
                    "_unit_id": [pdf["_unit_id"].iloc[0]],
                    "target": [target],
                    "params_json": [json.dumps(kwargs, sort_keys=True, default=list)],
                    "n_train": [np.int32(m.n_train_)],
                    "changepoints": [[int(c) for c in m.changepoints_]],
                    "beta": [[float(b) for b in m.beta_]],
                    "smooth_fill": [float(m.smooth_fill_)],
                    "smooth_train": [
                        None if m.smooth_train_ is None
                        else [float(s) for s in m.smooth_train_]
                    ],
                }
            )
        if len(future):
            extra_fu = future[reg_cols].to_numpy(np.float64) if reg_cols else None
            yhat = m.predict(len(future), extra=extra_fu)
            steps = np.arange(1, len(future) + 1, dtype=np.int32)
        else:
            if reg_cols:
                raise ValueError(
                    f"target {target!r} has regressors but no future rows — "
                    "future feature data must be present (reference contract)"
                )
            yhat = m.predict(horizon_default)
            steps = np.arange(1, horizon_default + 1, dtype=np.int32)
        return pd.DataFrame(
            {
                "_unit_id": pdf["_unit_id"].iloc[0],
                "target": target,
                "step": steps,
                "yhat": yhat,
            }
        )

    return kernel
