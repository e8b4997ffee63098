"""Driver-gate mirror: every queries() entry vs its oracle_sql() via DuckDB.

Replicates the driver's CORRECTNESS check (row count + schema + order-
insensitive value comparison) at sf0.001 so oracle drift is caught locally
before a round submission. Comparison is EXACT on all cells (the driver
hashes values) — floats must match bitwise, which the decimal-sum contract in
__spark_entry__ guarantees.
"""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
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


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        df = fn(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check
        return
    actual = _canon(fn(spark, SF_DIR).toPandas())
    expected = _canon(duck.sql(sql).df())
    assert list(actual.columns) == list(expected.columns), (
        f"{name}: columns {list(actual.columns)} != {list(expected.columns)}"
    )
    assert len(actual) == len(expected), f"{name}: {len(actual)} vs {len(expected)} rows"
    for c in actual.columns:
        av, ev = actual[c].to_numpy(), expected[c].to_numpy()
        if av.dtype == np.float64 and ev.dtype == np.float64:
            ok = (av == ev) | (np.isnan(av) & np.isnan(ev))
            assert ok.all(), f"{name}.{c}: {np.flatnonzero(~ok)[:5]} e.g. {av[~ok][:3]} vs {ev[~ok][:3]}"
        else:
            bad = [
                i for i, (x, y) in enumerate(zip(av, ev)) if not _cells_equal(x, y)
            ]
            assert not bad, f"{name}.{c}: rows {bad[:5]} e.g. {av[bad[0]]!r} vs {ev[bad[0]]!r}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "conv_id" in df.columns and "bucket_start" in df.columns


# Spark jobs a warm build of each row still submits: decisions its answer
# depends on (the outlier dates, the config coverage check with its three
# broadcasts, IVF centroid training, cluster label propagation). Every other
# row builds without a job once its tables' schemas are cached.
WARM_BUILD_JOBS = {
    "ivf_refined_topk": 6,
    "config_inherit": 4,
    "outlier_dummies": 3,
    "embed_near_dup_clusters": 3,
    "dup_clusters": 2,
}


def test_warm_builds_submit_only_inherent_jobs(spark):
    """Build each row twice and count the second build's Spark jobs (those
    outside a job group: a streaming row's micro-batches are not counted)."""
    from .test_pipeline import _jobs_of

    got = {}
    for name, fn in entrymod.queries().items():
        if name == "pipeline_full":
            continue
        fn(spark, SF_DIR)
        got[name] = _jobs_of(spark, lambda fn=fn: fn(spark, SF_DIR))[0]
    busy = {k: v for k, v in got.items() if v}
    assert sum(got.values()) <= sum(WARM_BUILD_JOBS.values()), busy
    assert set(busy) <= set(WARM_BUILD_JOBS), busy
    for name in ("outlier_dummies", "config_inherit"):
        assert got[name] == WARM_BUILD_JOBS[name], busy
