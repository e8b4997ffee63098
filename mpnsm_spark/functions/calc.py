"""User-supplied calculated columns — the reference's ``calc_func`` surface.

Reference analog (SURVEY.md F2): user lambdas applied per series to derive
regressor columns (``/root/reference/mpnsm/time_series/regressor.py:38-71``,
dill-serialized for IPC in ``deprecated/ts_manager.py:197-199``). In Spark the
transport problem disappears — cloudpickle ships the closure — and the
execution surface is an Arrow-vectorized scalar ``pandas_udf`` (Series in,
Series out), or a plain Column expression when the function is expressible in
SQL (always prefer that: it stays in codegen).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpnsm_spark.functions.arrowcfg import init_python_worker


def calc_column_udf(fn: Callable[[pd.Series], pd.Series], return_type: str = "double"):
    """Wrap a pandas Series→Series function as an Arrow-vectorized UDF."""

    def run(s: pd.Series) -> pd.Series:
        init_python_worker()
        return fn(s)

    return F.pandas_udf(run, return_type)


def with_calc_columns(
    df: DataFrame, calcs: dict[str, Column | tuple[Callable, str, str]]
) -> DataFrame:
    """Attach calculated columns; values are either Column expressions (fast
    path) or (fn, input_col, return_type) tuples → pandas UDFs (slow path)."""
    for name, spec in calcs.items():
        if isinstance(spec, Column):
            df = df.withColumn(name, spec)
        else:
            fn, input_col, rtype = spec
            df = df.withColumn(name, calc_column_udf(fn, rtype)(F.col(input_col)))
    return df
