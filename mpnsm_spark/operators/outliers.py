"""Outlier & changepoint operators from the reference's fit pipeline.

- :func:`iqr_outliers` — per-series IQR fence flags (reference quantile caps,
  ``/root/reference/mpnsm/time_series/model.py:245-277``, ``utils.py:260-271``)
  as pure SQL: the quartiles are window aggregates over the series, so the
  fences need no separate aggregate, join or eager job.
- :func:`tail_trim` — the reference's iterative alternating extreme-trim
  (``utils.py:289-299``) in CLOSED FORM: dropping alternating extremes until
  ≤ max_keep remain is equivalent to dropping ceil(k/2) from the top and
  floor(k/2) from the bottom of the value order — two row_number windows, no
  loop.
- :func:`changepoints` — the reference's changepoint selection
  (``utils.py:345-376``): smooth → second difference → top-k·margin by |d2| →
  greedy min-distance filter. The greedy pass is inherently sequential per
  series, so it runs inside the per-series pandas kernel
  (``apply_per_series``) with all array math vectorized (SURVEY.md W10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mpnsm_spark.operators.skew import apply_per_series


def iqr_outliers(
    df: DataFrame,
    key: str = "conv_id",
    value_col: str = "value",
    k: float = 1.5,
) -> DataFrame:
    """Flag rows outside [q1 - k·IQR, q3 + k·IQR] within their series.

    The quartiles are exact ``percentile`` aggregates over
    ``Window.partitionBy(key)``: the same values a grouped aggregate gives,
    computed in the one pass that also flags the rows. Every input row is
    kept; rows with a null key are one series."""
    w = Window.partitionBy(key)
    q1 = F.percentile(value_col, 0.25).over(w)
    q3 = F.percentile(value_col, 0.75).over(w)
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.col("_q1") - k * iqr
    hi = F.col("_q3") + k * iqr
    return (
        df.withColumns({"_q1": q1, "_q3": q3})
        .withColumn("is_outlier", (F.col(value_col) < lo) | (F.col(value_col) > hi))
        .withColumn("fence_lo", lo)
        .withColumn("fence_hi", hi)
        .drop("_q1", "_q3")
    )


def tail_trim(
    df: DataFrame,
    max_keep: int,
    key: str = "conv_id",
    value_col: str = "value",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Keep ≤ max_keep rows per series by trimming alternating extremes.

    Reference semantics (``utils.py:289-299``): repeatedly drop the current
    max, then the current min, ... until ≤ max_keep remain (max dropped first
    on odd trim counts). Closed form: with k = n - max_keep drops, remove the
    top ceil(k/2) and bottom floor(k/2) by (value, order) rank.
    """
    w_cnt = Window.partitionBy(key)
    asc = Window.partitionBy(key).orderBy(F.col(value_col).asc(), F.col(order_col).asc())
    desc = Window.partitionBy(key).orderBy(F.col(value_col).desc(), F.col(order_col).desc())
    out = (
        df.withColumn("_n", F.count(F.lit(1)).over(w_cnt))
        .withColumn("_ra", F.row_number().over(asc))
        .withColumn("_rd", F.row_number().over(desc))
    )
    k = F.greatest(F.col("_n") - F.lit(max_keep), F.lit(0))
    drop_top = F.ceil(k / 2)
    drop_bot = F.floor(k / 2)
    return out.filter(
        (F.col("_rd") > drop_top) & (F.col("_ra") > drop_bot)
    ).drop("_n", "_ra", "_rd")


def outlier_dummies(
    df: DataFrame,
    key: str = "conv_id",
    value_col: str = "value",
    date_col: str = "bucket_start",
    k: float = 1.5,
    max_dummies: int = 64,
) -> DataFrame:
    """Keep outlier rows and encode them as per-outlier-date DUMMY REGRESSOR
    columns instead of dropping them — the reference's ``outlier_handle='fit'``
    mode (``/root/reference/mpnsm/time_series/forecast.py:283-303``:
    ``add_fit_outliers``/``set_outliers`` add one indicator regressor per
    outlier date so the model fits the spike instead of swallowing it).

    Column ``outlier_<date>`` is 1 exactly where THIS series has its outlier
    at that date (``is_outlier AND date == d``) — per-series correct even
    though the column set is global. The distinct outlier-date scan is a
    driver decision aggregate, bounded by ``max_dummies`` (more distinct
    dates than that raises: a dummy-per-date design is only sane for a
    bounded spike set; use mode='drop'/'flag' otherwise). The dummy columns
    themselves are one ``F.when`` projection each over
    :func:`iqr_outliers`' window fences.

    Building runs one collect, the distinct outlier dates, which is
    inherent: the output's columns depend on the data. Executing the
    returned frame computes the fences again in its own single pass."""
    flagged = iqr_outliers(df, key=key, value_col=value_col, k=k)
    dates = sorted(
        r[0]
        for r in flagged.filter(F.col("is_outlier"))
        .select(date_col)
        .distinct()
        .collect()
    )
    if len(dates) > max_dummies:
        raise ValueError(
            f"outlier_dummies: {len(dates)} distinct outlier dates exceeds "
            f"max_dummies={max_dummies}"
        )
    cols = {
        f"outlier_{str(d).replace(' ', '_').replace(':', '').replace('-', '')}": (
            F.col("is_outlier") & (F.col(date_col) == F.lit(d))
        ).cast("int")
        for d in dates
    }
    return flagged.withColumns(cols)


def handle_outliers(
    df: DataFrame,
    mode: str = "flag",
    key: str = "conv_id",
    value_col: str = "value",
    date_col: str = "bucket_start",
    k: float = 1.5,
) -> DataFrame:
    """The reference's ``outlier_handle`` switch (forecast.py:273-303):
    ``flag`` (annotate only), ``drop`` (remove outlier rows), ``dummy``
    (keep rows, add per-date indicator regressors — the 'fit' mode)."""
    if mode == "flag":
        return iqr_outliers(df, key=key, value_col=value_col, k=k)
    if mode == "drop":
        return iqr_outliers(df, key=key, value_col=value_col, k=k).filter(
            ~F.col("is_outlier")
        )
    if mode == "dummy":
        return outlier_dummies(df, key=key, value_col=value_col, date_col=date_col, k=k)
    raise ValueError(f"mode must be flag|drop|dummy, got {mode!r}")


def changepoint_indices(
    vals: np.ndarray,
    n_changepoints: int = 5,
    min_distance: int = 3,
    lo: int = 0,
    hi: int | None = None,
) -> tuple[list[int], np.ndarray]:
    """Shared numpy core of :func:`changepoints`: smooth → |second diff| →
    greedy top-k with min distance. Returns (accepted indices in acceptance
    order, per-index score). ``lo``/``hi`` restrict candidates to
    ``lo <= idx < hi`` — the reference's interior changepoint margin
    (``model.py:297-311``: changepoints only between an offset past the
    series start and ``changepoint_range`` of the train span). Defaults keep
    the full range, bitwise-identical to the pre-refactor operator kernel."""
    n = len(vals)
    hi = n if hi is None else hi
    if n < 3 or n_changepoints <= 0:
        return [], np.zeros(n)
    # centered 3-window mean, accumulated (prev + cur) + next so the
    # grouping matches a SQL windowed SUM over (1 PRECEDING, 1 FOLLOWING)
    s = vals.copy()
    s[1:] = vals[:-1] + vals[1:]
    s[:-1] = s[:-1] + vals[1:]
    cnt = np.full(n, 3.0)
    cnt[0] = cnt[-1] = 2.0
    sm = s / cnt
    d2 = np.zeros(n)
    d2[1:-1] = np.abs((sm[2:] - 2 * sm[1:-1]) + sm[:-2])
    score = np.floor(d2 * 1e6 + 0.5) / 1e6  # half-up 6dp, SQL-identical
    order = np.argsort(-score, kind="stable")
    accepted: list[int] = []
    for idx in order:
        if score[idx] <= 0:
            break
        if idx < lo or idx >= hi:
            continue
        if all(abs(idx - a) >= min_distance for a in accepted):
            accepted.append(int(idx))
            if len(accepted) == n_changepoints:
                break
    return accepted, score


CHANGEPOINT_SCHEMA = (
    "conv_id string, bucket_start timestamp, score double, rank int"
)


def changepoints(
    tier_df: DataFrame,
    n_changepoints: int = 5,
    min_distance: int = 3,
    smooth_window: int = 3,
    value_col: str = "value_avg",
) -> DataFrame:
    """Top-k changepoints per series with a minimum bucket distance.

    Pipeline per series (vectorized numpy inside the grouped-map kernel):
    centered rolling-mean smooth (W1) → second difference (W8) → candidates
    sorted by |d2| → greedy accept while ≥ min_distance from accepted.

    Cross-engine determinism contract (the greedy pass IS replayable by an
    ANSI engine via a recursive CTE — see SQL_CHANGEPOINTS): the smooth uses
    the windowed-sum accumulation order ``(prev + cur) + next``, the score is
    half-up-rounded to 6dp via ``floor(x·1e6 + 0.5)/1e6`` (identical float
    ops both sides), and candidate order is (score desc, position asc).
    Only the default ``smooth_window=3`` has the SQL twin.
    """
    if smooth_window != 3:  # pragma: no cover - SQL twin pins the default
        raise ValueError("changepoints: only smooth_window=3 is supported")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(np.float64)
        n = len(vals)
        if n < 3:
            return pd.DataFrame(
                columns=["conv_id", "bucket_start", "score", "rank"]
            ).astype({"score": float, "rank": int})
        accepted, score = changepoint_indices(vals, n_changepoints, min_distance)
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "bucket_start": pdf["bucket_start"].iloc[np.array(accepted, int)]
                if accepted
                else pd.Series([], dtype="datetime64[ns]"),
                "score": score[accepted] if accepted else [],
                "rank": np.arange(1, len(accepted) + 1, dtype=np.int32)
                if accepted
                else [],
            }
        )

    return apply_per_series(
        tier_df.select("conv_id", "bucket_start", value_col),
        kernel,
        CHANGEPOINT_SCHEMA,
        order_col="bucket_start",
    )
