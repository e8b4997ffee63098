"""TableIO — thin storage seam: Iceberg when available, parquet + manifests else.

The design target is an Iceberg catalog (``df.writeTo(tbl).append()``,
snapshot-id based resume). This sandbox has no iceberg-spark-runtime jar, so
the default backend emulates the parts the engine relies on with parquet
directories plus JSON *manifest* files providing:

- **atomic-enough commits**: data files are written to a staging dir, the
  manifest (listing exactly the files of that snapshot) is renamed into place
  last — readers only see fully-committed snapshots;
- **monotonic snapshot versions** (the reference's versioned ``*_v{N}.json``
  params artifacts, ``/root/reference/mpnsm/time_series/manager.py:59-96,
  113-133``);
- **read = union of committed snapshots' files** (append semantics).

On a real cluster, set ``iceberg=True`` and pass a catalog-qualified table
prefix; every call maps 1:1 onto Iceberg operations. The authoritative
per-call mapping — including which semantics each pipeline feature relies on
(atomic commit, zero-copy ``add_files`` adoption, snapshot pinning for
resume, partition pruning) — is the table in ``ICEBERG.md`` at the repo
root; validate that table on-cluster before flipping the flag.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from mpnsm_spark.session import local_frame


class TableIO:
    def __init__(self, root: str, iceberg: bool = False, catalog_prefix: str = ""):
        self.root = root
        self.iceberg = iceberg
        self.catalog_prefix = catalog_prefix
        # Commits may come from concurrent driver threads (the pipeline runs
        # independent stages in parallel); version assignment must be atomic.
        self._lock = threading.Lock()
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- manifests
    def _mdir(self, table: str) -> str:
        d = os.path.join(self.root, table, "_manifests")
        os.makedirs(d, exist_ok=True)
        return d

    def _ddir(self, table: str) -> str:
        d = os.path.join(self.root, table, "data")
        os.makedirs(d, exist_ok=True)
        return d

    def snapshot_version(self, table: str) -> int:
        """Max committed snapshot version; 0 if the table has none."""
        d = self._mdir(table)
        versions = [
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=0)

    def _manifests(self, table: str) -> list[dict]:
        d = self._mdir(table)
        out: list[dict] = []
        for v in range(1, self.snapshot_version(table) + 1):
            p = os.path.join(d, f"v{v}.json")
            if os.path.exists(p):
                with open(p) as fh:
                    out.append(json.load(fh))
        return out

    def _committed_files(self, table: str) -> list[str]:
        return [f for m in self._manifests(table) for f in m["files"]]

    @staticmethod
    def _reader(spark: SparkSession, manifests: list[dict]):
        """``spark.read`` with the Spark schema that every one of
        ``manifests`` recorded at append, when they all have one and it is
        the same: the files are then read without a schema-inference job.
        Otherwise the reader infers, as for external or pyarrow files."""
        schemas = {m.get("schema") for m in manifests}
        if len(schemas) != 1 or None in schemas:
            return spark.read
        return spark.read.schema(StructType.fromJson(json.loads(schemas.pop())))

    def buckets_disjoint(self, table: str) -> bool:
        """Whether keep-last per bucket over the table's engine-written
        snapshots is the identity: there is at most one, or each lists its
        ``meta["buckets"]`` and no bucket is listed twice (the engine writes
        a bucket's rows only into a snapshot that lists it). Always False
        on Iceberg, whose snapshots carry no such list."""
        if self.iceberg:
            return False
        internal = [m for m in self._manifests(table) if not m["meta"].get("external")]
        if len(internal) <= 1:
            return True
        seen: set[int] = set()
        for m in internal:
            buckets = m["meta"].get("buckets")
            if buckets is None or seen.intersection(buckets):
                return False
            seen.update(buckets)
        return True

    # ------------------------------------------------------------ operations
    def append(
        self,
        df: DataFrame | pa.Table,
        table: str,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Append ``df`` as a new snapshot; returns the snapshot version.

        ``df`` is a Spark DataFrame, or a ``pyarrow.Table`` of driver-side
        rows (lineage): the table is written as one parquet file on the
        driver and committed through the same staging move and manifest
        rename, so it submits no Spark job.

        A flat DataFrame snapshot's manifest records ``df.schema``, which
        the read methods hand to Spark instead of inferring it from the
        files.

        ``partition_by`` hive-partitions the snapshot's files (S6 threaded
        partitioned save analog — Spark writes partition dirs concurrently);
        DataFrames only.
        """
        is_arrow = isinstance(df, pa.Table)
        if is_arrow and partition_by:
            raise ValueError("partition_by needs a DataFrame, not a pyarrow.Table")
        if self.iceberg:
            if is_arrow:
                df = local_frame(
                    SparkSession.active(),
                    zip(*df.to_pydict().values()),
                    from_arrow_schema(df.schema),
                )
            df.writeTo(f"{self.catalog_prefix}{table}").append()
            return -1
        # A table's snapshots must share one layout (flat vs hive-partitioned):
        # mixing them makes partition-column recovery ambiguous on read.
        prior = [f for f in self._committed_files(table) if not os.path.isabs(f)]
        if prior:
            prior_partitioned = any("/" in f for f in prior)
            if prior_partitioned != bool(partition_by):
                raise ValueError(
                    f"table {table}: cannot mix partitioned and flat snapshots"
                )
        staging = os.path.join(self.root, table, f"_staging_{uuid.uuid4().hex}")
        if is_arrow:
            os.makedirs(staging)
            pq.write_table(df, os.path.join(staging, "part-00000.parquet"))
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staging)
        ddir = self._ddir(table)
        moved = []
        for dirpath, _dirs, files in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                sub = "" if rel == "." else rel + "/"
                os.makedirs(os.path.join(ddir, sub), exist_ok=True)
                dst = f"{sub}snap_{uuid.uuid4().hex}_{f}"
                shutil.move(os.path.join(dirpath, f), os.path.join(ddir, dst))
                moved.append(dst)
        shutil.rmtree(staging, ignore_errors=True)
        with self._lock:
            version = self.snapshot_version(table) + 1
            manifest = {
                "version": version,
                "files": moved,
                "committed_at": time.time(),
                "meta": meta or {},
            }
            if not is_arrow and not partition_by:
                manifest["schema"] = df.schema.json()
            tmp = os.path.join(self._mdir(table), f".tmp_v{version}.json")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.rename(tmp, os.path.join(self._mdir(table), f"v{version}.json"))
        return version

    def adopt(self, files: list[str], table: str, meta: dict | None = None) -> int:
        """Commit EXTERNAL parquet files into ``table`` by reference — a pure
        metadata operation, zero data movement (Iceberg analog:
        ``add_files`` / the untouched-file set of a copy-on-write ``DELETE``).

        ``files`` must be absolute paths. Each adopt supersedes any previous
        adopt on the table (read_parts keeps only the latest external
        snapshot), so a crash-and-retry re-adopt is idempotent.

        ``meta["schema"]``, the files' Spark schema as JSON (the adopting
        scan's), is recorded as the manifest's schema, so reads of the
        files plan without a schema-inference job.
        """
        if self.iceberg:
            raise NotImplementedError("use Iceberg add_files procedure")
        bad = [f for f in files if not os.path.isabs(f)]
        if bad:
            raise ValueError(f"adopt requires absolute paths, got: {bad[:3]}")
        meta = dict(meta or {})
        schema = meta.pop("schema", None)
        with self._lock:
            version = self.snapshot_version(table) + 1
            manifest = {
                "version": version,
                "files": sorted(files),
                "committed_at": time.time(),
                "meta": {**meta, "external": True},
            }
            if schema is not None:
                manifest["schema"] = schema
            tmp = os.path.join(self._mdir(table), f".tmp_v{version}.json")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.rename(tmp, os.path.join(self._mdir(table), f"v{version}.json"))
        return version

    def read_parts(
        self, spark: SparkSession, table: str
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(internal_df, external_df): engine-written snapshots vs the LATEST
        adopted external snapshot (earlier adopts are superseded wholesale —
        adoption is an all-at-once metadata commit, not an append)."""
        manifests = self._manifests(table)
        int_manifests = [m for m in manifests if not m["meta"].get("external")]
        internal = [f for m in int_manifests for f in m["files"]]
        ext_manifests = [m for m in manifests if m["meta"].get("external")][-1:]
        external = ext_manifests[0]["files"] if ext_manifests else []
        ddir = self._ddir(table)
        int_df = (
            self._reader(spark, int_manifests).parquet(
                *[os.path.join(ddir, f) for f in internal]
            )
            if internal
            else None
        )
        ext_df = self._reader(spark, ext_manifests).parquet(*external) if external else None
        if int_df is None and ext_df is None:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        return int_df, ext_df

    def overwrite(self, df: DataFrame, table: str, meta: dict | None = None) -> int:
        """Replace table contents (new snapshot superseding all prior ones)."""
        if self.iceberg:
            df.writeTo(f"{self.catalog_prefix}{table}").createOrReplace()
            return -1
        tdir = os.path.join(self.root, table)
        if os.path.exists(tdir):
            shutil.rmtree(tdir)
        return self.append(df, table, meta=meta)

    def read(
        self, spark: SparkSession, table: str, merge_schema: bool = False
    ) -> DataFrame:
        """Union of all committed snapshots (empty-but-valid error if none).

        ``merge_schema=True`` unions footer schemas across snapshots — needed
        for tables whose schema legitimately evolves (the lineage table gained
        error columns); costs a footer read per file, so keep it off for big
        data tables (Iceberg handles evolution natively via its own schema).
        Snapshots that all recorded one schema need neither.
        """
        if self.iceberg:
            return spark.read.table(f"{self.catalog_prefix}{table}")
        manifests = self._manifests(table)
        files = [f for m in manifests for f in m["files"]]
        if not files:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        if any(os.path.isabs(f) for f in files):
            int_df, ext_df = self.read_parts(spark, table)
            if int_df is None:
                return ext_df
            if ext_df is None:
                return int_df
            return int_df.unionByName(ext_df, allowMissingColumns=True)
        ddir = self._ddir(table)
        reader = self._reader(spark, manifests)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if any("/" in f for f in files):
            # hive-partitioned snapshot files: recover partition columns
            reader = reader.option("basePath", ddir)
        return reader.parquet(*[os.path.join(ddir, f) for f in files])

    def read_snapshot(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        """Read exactly ONE committed snapshot's files (Iceberg analog:
        ``VERSION AS OF``). Used for post-write stats: a column-pruned scan
        of the files just written is cheaper than caching the whole stage
        output for a single aggregation."""
        if self.iceberg:
            return (
                spark.read.option("versionAsOf", version)
                .table(f"{self.catalog_prefix}{table}")
            )
        p = os.path.join(self._mdir(table), f"v{version}.json")
        with open(p) as fh:
            m = json.load(fh)
        ddir = self._ddir(table)
        files = [
            f if os.path.isabs(f) else os.path.join(ddir, f) for f in m["files"]
        ]
        if not files:
            raise FileNotFoundError(f"table {table} snapshot v{version} is empty")
        return self._reader(spark, [m]).parquet(*files)

    def read_arrow(self, table: str, columns: list[str]) -> pa.Table:
        """``columns`` of a small flat table's committed rows as one
        ``pyarrow.Table``, read on the driver: no Spark job (the lineage
        table). Snapshots that lack a requested column read it as nulls."""
        if self.iceberg:
            df = SparkSession.active().read.table(f"{self.catalog_prefix}{table}")
            return df.select(*columns).toArrow()
        files = self._committed_files(table)
        if not files:
            raise FileNotFoundError(f"table {table} has no committed snapshots")
        ddir = self._ddir(table)
        return pa.concat_tables(
            [pq.read_table(os.path.join(ddir, f)) for f in files],
            promote_options="default",
        ).select(columns)

    def partitions(self, table: str) -> list[str]:
        """Hive partition ids (e.g. ``role=tool``) across committed snapshots."""
        parts = {
            os.path.dirname(f)
            for f in self._committed_files(table)
            if "/" in f and not os.path.isabs(f)
        }
        return sorted(parts)

    def read_partitioned(
        self,
        spark: SparkSession,
        table: str,
        partition_filter=None,
        preprocess=None,
    ) -> DataFrame:
        """Load-concat of a partitioned table with partition selection and
        per-partition preprocess (SURVEY.md S5).

        Semantics pinned by the reference's partitioned-dataset tests
        (``/root/reference/tests/extras/datasets/test_concatened_dataset.py:
        42-167``): the result is the concatenation of the selected
        partitions; ``partition_filter`` is a regex string or a callable over
        the partition id; ``preprocess(df, partition_id)`` runs once per
        partition before the union; selecting ZERO partitions is an error.

        Partition pruning is real: only the selected partitions' files are
        listed in the scan, so unselected data is never read.
        """
        import re as _re

        parts = self.partitions(table)
        if not parts:
            raise FileNotFoundError(f"table {table} has no partitioned snapshots")
        if partition_filter is not None:
            if callable(partition_filter):
                parts = [p for p in parts if partition_filter(p)]
            else:
                rx = _re.compile(partition_filter)
                parts = [p for p in parts if rx.search(p)]
        if not parts:
            raise ValueError(
                f"table {table}: partition filter selected zero partitions"
            )
        ddir = self._ddir(table)
        files_by_part: dict[str, list[str]] = {p: [] for p in parts}
        for f in self._committed_files(table):
            d = os.path.dirname(f)
            if d in files_by_part:
                files_by_part[d].append(f)
        out: DataFrame | None = None
        for p in parts:
            df = spark.read.option("basePath", ddir).parquet(
                *[os.path.join(ddir, f) for f in files_by_part[p]]
            )
            if preprocess is not None:
                df = preprocess(df, p)
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def table_meta(self, table: str) -> dict:
        """Meta dict of the latest committed snapshot ({} if none) — used for
        table-level dictionaries (e.g. the tools bitmask vocabulary)."""
        manifests = self._manifests(table)
        return manifests[-1]["meta"] if manifests else {}

    def table_metas(self, table: str) -> list[dict]:
        """Meta dicts of ALL committed snapshots in version order — used to
        validate cross-snapshot dictionary consistency (append-only vocabs)."""
        return [m["meta"] for m in self._manifests(table)]

    def exists(self, table: str) -> bool:
        return self.snapshot_version(table) > 0
