"""Parquet reads that plan without a Spark job once a path's schema is known.

``spark.read.parquet(path)`` infers the schema by reading a footer in a Spark
job, one job every time a frame over the path is built. :class:`ParquetSchemas`
keeps the ``StructType`` Spark inferred on the first read and passes it to
``spark.read.schema(...)`` afterwards, which lists the files and submits no
job.

The schema is always Spark's own inference, never one converted from the
pyarrow footer: that conversion turns ``timestamp_ntz`` columns into
``timestamp``. A cached schema is used only while the name, size and
``mtime_ns`` of every file under the path are unchanged, so a rewritten,
added or removed file re-infers it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _file_stats(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative name, size, mtime_ns) of the file at ``path`` or of every
    file under the directory ``path``; empty when nothing is there."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    stats = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            stats.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stats))


class ParquetSchemas:
    """A cache of the schemas Spark inferred for local parquet paths.

    Threads may share one instance: a race between two first reads of a path
    only infers its schema twice."""

    def __init__(self) -> None:
        # path -> (its files' stats when the schema was inferred, schema)
        self._schemas: dict[str, tuple[tuple, StructType]] = {}

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """``spark.read.parquet(path)``, with no Spark job once this cache
        has seen the path's files unchanged."""
        stats = _file_stats(path)
        hit = self._schemas.get(path)
        if hit is not None and hit[0] == stats:
            return spark.read.schema(hit[1]).parquet(path)
        df = spark.read.parquet(path)
        self._schemas[path] = (stats, df.schema)
        return df
