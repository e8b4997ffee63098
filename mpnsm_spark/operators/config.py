"""Hierarchical config resolution — config-as-data with coarse-to-fine
inheritance.

Reference analog: ``generate_full_tree`` (``/root/reference/mpnsm/time_series/
config.py:6-75``) and ``fill_nan_units`` (``deprecated/ts_manager.py:16-78``):
config entries may be defined at any prefix of the unit hierarchy
(e.g. region → nation → customer); units without an exact-level entry inherit
from the nearest coarser level, and total coverage is asserted.

Spark-first re-expression (SURVEY.md J7): instead of the reference's
iterative join/anti-join loop over granularities, ONE pass of left
broadcast-joins (config tables are tiny) at each level plus a single
``coalesce`` per config column picks the finest matching value — same
semantics, no loop, no anti-join, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_config(
    units: DataFrame,
    configs: list[tuple[list[str], DataFrame]],
    config_cols: list[str],
    require_full_coverage: bool = True,
) -> DataFrame:
    """Resolve per-unit config with fine-over-coarse precedence.

    ``units``: one row per unit, carrying every hierarchy column.
    ``configs``: (key_cols, config_df) pairs ordered COARSE → FINE; each
    config_df has its key cols plus ``config_cols``.
    Output: units + one resolved value per config col (finest match wins).

    Raises on uncovered units when ``require_full_coverage`` (the reference's
    coverage assert, ``config.py:71-73``). The check is one ``limit(1)``
    collect of an uncovered unit (its broadcast joins add their own jobs),
    run at call time; the row it finds is the error's example.
    """
    out = units
    level_names: list[str] = []
    for i, (keys, cfg_df) in enumerate(configs):
        suffix = f"__l{i}"
        level_names.append(suffix)
        renamed = cfg_df.select(
            *[F.col(k) for k in keys],
            *[F.col(c).alias(f"{c}{suffix}") for c in config_cols],
        )
        out = out.join(F.broadcast(renamed), keys, "left")
    # Finest level is listed last → coalesce fine-to-coarse.
    for c in config_cols:
        out = out.withColumn(
            c, F.coalesce(*[F.col(f"{c}{s}") for s in reversed(level_names)])
        )
    out = out.drop(*[f"{c}{s}" for c in config_cols for s in level_names])
    if require_full_coverage:
        any_null = F.lit(False)
        for c in config_cols:
            any_null = any_null | F.col(c).isNull()
        example = out.filter(any_null).limit(1).collect()
        if example:
            raise ValueError(
                f"config does not cover all units (example: {example[0].asDict()})"
            )
    return out


def semi_join_units(df: DataFrame, units: DataFrame, keys: list[str]) -> DataFrame:
    """Restrict data to configured units (SURVEY.md J6): ``left_semi`` join,
    the Spark twin of the reference's
    ``data.merge(reg_groups, on=group_cols)`` restriction
    (``/root/reference/mpnsm/time_series/deprecated/ts_manager.py:205-207``).

    The unit list is a per-key table, small by construction (one row per
    configured unit) → broadcast; the probe side never shuffles.
    """
    return df.join(F.broadcast(units.select(*keys).distinct()), keys, "left_semi")


def explode_config_lists(config_df: DataFrame, list_col: str, out_col: str) -> DataFrame:
    """Reference pattern: explode per-entry lists (regressors, seasonalities)
    into one row each (``config.py:18-19``; SURVEY.md F5)."""
    return config_df.withColumn(out_col, F.explode(F.col(list_col))).drop(list_col)
