"""Exact comparison of a ``__spark_entry__`` row against its DuckDB oracle.

Same rule as ``tests/test_entry_oracle.py``: identical column names and row
count, then every cell equal after canonicalising both sides (columns sorted
by name, integer/bool/timestamp dtypes unified, rows sorted by every column).
Floats must match bitwise; NaN equals NaN.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd


def connect(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def mismatch(actual: pd.DataFrame, con, sql: str | None) -> str | None:
    """None when ``actual`` matches the oracle, else a one-line reason.
    A row without oracle SQL is checked for producing a frame only."""
    if sql is None:
        return None
    actual = _canon(actual)
    expected = _canon(con.sql(sql).df())
    if list(actual.columns) != list(expected.columns):
        return f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows vs {len(expected)} expected"
    for c in actual.columns:
        av, ev = actual[c].to_numpy(), expected[c].to_numpy()
        if av.dtype == np.float64 and ev.dtype == np.float64:
            bad = np.flatnonzero(~((av == ev) | (np.isnan(av) & np.isnan(ev))))
        else:
            bad = [i for i, (x, y) in enumerate(zip(av, ev)) if not _cell_equal(x, y)]
        if len(bad):
            i = bad[0]
            return f"{c}: {len(bad)} cells differ, e.g. {av[i]!r} vs {ev[i]!r}"
    return None
