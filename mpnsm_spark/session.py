"""SparkSession factory tuned for this engine, and driver-side local frames.

Local mode is single-JVM (driver-only); on a real cluster the same configs
apply, plus ``spark-submit --py-files mpnsm_spark.zip``. UTC session timezone
is pinned so results compare bit-for-bit against DuckDB/pandas oracles.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "mpnsm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to the core
    count: on local mode 200 shuffle partitions just adds task-scheduling
    overhead; on a real cluster callers pass an explicit value sized so each
    shuffle partition holds ~128-256 MB.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Default 64MB advisory size lets AQE coalesce mid-size shuffles to
        # fewer tasks than cores, idling the cluster; 8MB keeps reduce stages
        # wide enough to pack all cores (raise on a real 100TB cluster).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO footer min/max stats for
        # timestamps, which kills ts predicate pushdown AND the file-level
        # retention classifier. Micros is the modern interoperable type.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Tier caches are narrow fixed-width rows re-read 2-4x within a run;
        # dictionary/RLE cache compression costs ~15% of the materializing
        # stage for memory this engine doesn't need (flip on for memory-tight
        # clusters).
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # Bound the pandas frames entering applyInPandas so a group's Arrow
        # batches never blow executor memory (SURVEY.md §4 spill-to-disk note).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        # Generated classes are cached by source text, 100 by default. One
        # pipeline + manager run uses ~113 and the 49 driver rows ~536, so
        # the default LRU evicts every class before its next use and each
        # run pays Janino plus JIT for ~80 classes again.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark's Column calls otherwise each capture the Python call site
        # (several py4j round trips and an `import IPython` attempt): building
        # 100 `col + lit` expressions took 204 ms with it, 54 ms without
        # (local[1], 4-core host). Given up: a runtime (ANSI) error no longer
        # carries its DataFrameQueryContext, the Python file:line of the
        # failing expression; it keeps its error class and the expression.
        # PySpark reads this setting once per process, at the first Column
        # call (false when no session exists yet). It is a static setting:
        # a caller's `extra_conf` overrides it for a new session only.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Local mode = driver-only JVM: the heap must cover all concurrent
        # task memory + cached tables, or high core counts GC-thrash.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-side rows (tuples in ``schema`` order).

    ``spark.createDataFrame(<python list>, schema)`` plans a ``LogicalRDD``
    over a Python RDD, so every job reading it runs Python tasks that pay
    the worker's per-task start-up (~0.2 s each) and run no engine code. An
    Arrow table plans a ``LocalRelation`` instead: the rows live in the plan
    and no Python task starts. Every driver-built frame in the engine goes
    through here.
    """
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = struct.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
