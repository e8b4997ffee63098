"""Expanding-window cross-validation splits — set-based, no per-fold loop.

Reference analog: ``TimeSeriesCV.split`` (``/root/reference/mpnsm/time_series/
cross_validation.py:44-73``): fold f trains on the first ``cutoff_f`` points
and tests on the next ``horizon``, with cutoffs stepping back by ``jump`` from
the series end. The reference yields index slices in a Python generator; here
ONE cross join of rows × fold-ids labels every (row, fold) membership
declaratively (SURVEY.md W11), so all folds of all series materialize in a
single shuffle-free pass over ordered rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def expanding_folds(
    df: DataFrame,
    horizon: int,
    n_folds: int,
    jump: int = 1,
    key: str = "conv_id",
    order_col: str = "bucket_start",
    min_train: int = 1,
) -> DataFrame:
    """Label rows with (fold, role ∈ {train,test}) for expanding CV.

    Fold f (0-based) has cutoff = n - horizon - f·jump; rows 1..cutoff are
    train, cutoff+1..cutoff+horizon are test; folds whose cutoff < min_train
    are skipped (reference size preconditions, cross_validation.py:58-66).
    Output: one row per (input row, applicable fold).
    """
    w = Window.partitionBy(key).orderBy(order_col)
    base = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(key))
    )
    folds = base.withColumn("fold", F.explode(F.sequence(F.lit(0), F.lit(n_folds - 1))))
    cutoff = F.col("_n") - F.lit(horizon) - F.col("fold") * F.lit(jump)
    return (
        folds.filter(cutoff >= min_train)
        .withColumn(
            "role_cv",
            F.when(F.col("_rn") <= cutoff, F.lit("train")).when(
                F.col("_rn") <= cutoff + horizon, F.lit("test")
            ),
        )
        .filter(F.col("role_cv").isNotNull())
        .drop("_rn", "_n")
    )

