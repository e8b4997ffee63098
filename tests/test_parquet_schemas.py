"""``ParquetSchemas``: table reads that plan without a Spark job once a
path's schema is known, and never with a schema its files no longer have."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from mpnsm_spark.sources.parquet_schemas import ParquetSchemas

from .test_pipeline import _jobs_of


def test_warm_table_read_submits_no_job(spark, tmp_path):
    """The driver's ``_t`` infers a table's schema once (one job); a repeat
    read of the unchanged file plans with no job and the same schema."""
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array([0, 1], pa.timestamp("us"))}),
        os.path.join(sf, "events.parquet"),
    )
    cold_jobs, cold = _jobs_of(spark, lambda: entrymod._t(spark, sf, "events"))
    warm_jobs, warm = _jobs_of(spark, lambda: entrymod._t(spark, sf, "events"))
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["ts"] == "timestamp_ntz"
    assert warm.collect() == cold.collect()


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    schemas = ParquetSchemas()
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert schemas.read(spark, path).collect() == [(1,), (2,)]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    jobs, df = _jobs_of(spark, lambda: schemas.read(spark, path))
    assert jobs == 1  # re-inferred, not served from the cache
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_directory_table_is_keyed_on_every_part(spark, tmp_path):
    """A table stored as a directory of parts re-infers its schema when any
    part changes, is added or is removed, and only then."""
    path = str(tmp_path / "parts.parquet")
    spark.range(40).repartition(3).write.parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(parts) == 3
    schemas = ParquetSchemas()

    def jobs() -> int:
        return _jobs_of(spark, lambda: schemas.read(spark, path))[0]

    assert jobs() == 1
    assert jobs() == 0
    last = os.path.join(path, parts[-1])
    st = os.stat(last)
    os.utime(last, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert jobs() == 1
    assert jobs() == 0
    extra = pa.table({"id": pa.array([99], pa.int64())})
    pq.write_table(extra, os.path.join(path, "part-extra.parquet"))
    assert jobs() == 1
    first = os.path.join(path, parts[0])
    removed = pq.read_metadata(first).num_rows
    os.remove(first)
    assert jobs() == 1
    assert schemas.read(spark, path).count() == 40 + 1 - removed
