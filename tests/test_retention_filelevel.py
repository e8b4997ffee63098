"""File-level (Iceberg DELETE-WHERE-shaped) retention: drop whole files via
footer stats, adopt untouched files by reference, rewrite only straddling
files. Content must equal the row-level rewrite semantics exactly."""

import os

import pytest
from pyspark.sql import functions as F

from mpnsm_spark.generator import generate_transcripts, with_value
from mpnsm_spark.plans.pipeline import (
    LINEAGE_TABLE,
    PipelineConfig,
    StageFailure,
    classify_files_for_retention,
    parquet_footer_stats,
    read_raw_retained,
    run_pipeline,
)
from mpnsm_spark.sources.tableio import TableIO

CUTOFF = "2025-01-15 00:00:00"


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    """Parquet bronze with ts-clustered files so the cutoff drops some files
    whole, adopts others whole, and straddles at least one."""
    path = str(tmp_path_factory.mktemp("bronze") / "raw")
    df = with_value(generate_transcripts(spark, n_convs=40, n_turns=4000, seed=7))
    df.repartitionByRange(4, "ts").write.mode("overwrite").parquet(path)
    return path


def _cfg(**kw):
    base = dict(num_buckets=4, points_per_chunk=512, gapfill_tiers=("1d",))
    base.update(kw)
    return PipelineConfig(**base)


def test_classification_covers_all_files(spark, bronze):
    raw = spark.read.parquet(bronze)
    files = [f.replace("file:", "") for f in raw.inputFiles()]
    stats = parquet_footer_stats(files)
    assert sum(s["rows"] for s in stats) == raw.count()
    import datetime as dt

    cutoff = dt.datetime.fromisoformat(CUTOFF)
    for s in stats:
        for k in ("ts_min", "ts_max"):
            if s[k] is not None and s[k].tzinfo is not None:
                s[k] = s[k].astimezone(dt.timezone.utc).replace(tzinfo=None)
    dropped, adopted, straddling = classify_files_for_retention(stats, cutoff)
    assert len(dropped) + len(adopted) + len(straddling) == len(files)
    assert dropped and adopted and len(straddling) <= 2
    assert all(s["ts_max"] < cutoff for s in dropped)
    assert all(s["ts_min"] >= cutoff for s in adopted)


def test_file_level_adopts_everything_without_cutoff(spark, bronze, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    raw = spark.read.parquet(bronze)
    summary = run_pipeline(spark, raw, io, _cfg())
    assert summary["integrity_ok"]
    # zero-copy: no data files were written into the retained table
    ddir = os.path.join(str(tmp_path / "wh"), "raw_retained", "data")
    written = (
        [f for f in os.listdir(ddir) if f.endswith(".parquet")]
        if os.path.isdir(ddir)
        else []
    )
    assert written == []
    retained = read_raw_retained(spark, io)
    assert retained.count() == raw.count()
    # single stage-level lineage row (bucket_id = -1)
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    ret = lin[lin.stage == "retention"]
    assert set(ret.bucket_id) == {-1}
    assert int(ret.output_rows.iloc[0]) == raw.count()


def test_file_level_cutoff_matches_row_level_content(spark, bronze, tmp_path):
    raw = spark.read.parquet(bronze)
    io_f = TableIO(str(tmp_path / "wh_file"))
    io_r = TableIO(str(tmp_path / "wh_row"))
    s1 = run_pipeline(spark, raw, io_f, _cfg(retention_cutoff=CUTOFF))
    # The same rows behind a Filter node: not a bare scan, so the row-level
    # rewrite runs.
    s2 = run_pipeline(
        spark, raw.filter(F.col("turn_idx") >= 0), io_r, _cfg(retention_cutoff=CUTOFF)
    )
    assert s1["integrity_ok"] and s2["integrity_ok"]
    lin = io_r.read(spark, LINEAGE_TABLE).toPandas()
    assert set(lin[lin.stage == "retention"].bucket_id) == {0, 1, 2, 3}
    a = (
        read_raw_retained(spark, io_f)
        .select("conv_id", "turn_idx", "text", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        read_raw_retained(spark, io_r)
        .select("conv_id", "turn_idx", "text", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert a.equals(b)
    assert (a["ts"] >= CUTOFF).all() and len(a) > 0


def test_file_level_resume_is_noop(spark, bronze, tmp_path):
    io = TableIO(str(tmp_path / "wh2"))
    raw = spark.read.parquet(bronze)
    run_pipeline(spark, raw, io, _cfg(retention_cutoff=CUTOFF))
    again = run_pipeline(spark, raw, io, _cfg(retention_cutoff=CUTOFF))
    assert all(v == 0 for v in again["stages"].values())
    assert again["integrity_ok"]


def test_filtered_input_falls_back_to_row_level(spark, bronze, tmp_path):
    """A filter hiding in raw_df breaks per-file adoption — the count guard
    must detect it and use the row-level rewrite."""
    io = TableIO(str(tmp_path / "wh3"))
    raw = spark.read.parquet(bronze).filter(F.col("turn_idx") % 2 == 0)
    summary = run_pipeline(spark, raw, io, _cfg())
    assert summary["integrity_ok"]
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    ret = lin[lin.stage == "retention"]
    assert set(ret.bucket_id) == {0, 1, 2, 3}  # per-bucket = row-level path
    assert read_raw_retained(spark, io).count() == raw.count()


def test_rowcount_preserving_rewrite_falls_back_to_row_level(spark, bronze, tmp_path):
    """A row-count-preserving transformation (e.g. a text rewrite) passes the
    old footer-rowcount guard but must NOT be adopted by reference: the
    optimized-plan bare-scan proof forces the row-level path, so raw_retained
    carries the transformed rows, not the original file bytes."""
    io = TableIO(str(tmp_path / "wh5"))
    raw = spark.read.parquet(bronze).withColumn(
        "text", F.concat(F.lit("REWRITTEN "), F.col("text"))
    )
    summary = run_pipeline(spark, raw, io, _cfg())
    assert summary["integrity_ok"]
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    ret = lin[lin.stage == "retention"]
    assert set(ret.bucket_id) == {0, 1, 2, 3}  # per-bucket => row-level path
    stored = read_raw_retained(spark, io)
    assert stored.filter(~F.col("text").startswith("REWRITTEN ")).count() == 0
    assert stored.count() == raw.count()


def test_adopted_files_read_without_schema_job(spark, bronze, tmp_path):
    """The adopt manifest records the adopting scan's schema, so building a
    read of the retained raw turns (adopted files and a rewrite) submits no
    schema-inference job and reads the same schema and rows as inference."""
    from .test_pipeline import _jobs_of

    io = TableIO(str(tmp_path / "wh"))
    raw = spark.read.parquet(bronze)
    run_pipeline(spark, raw, io, _cfg(retention_cutoff=CUTOFF))
    _, ext_df = io.read_parts(spark, "raw_retained")
    assert ext_df is not None  # some files were adopted
    jobs, retained = _jobs_of(spark, lambda: read_raw_retained(spark, io))
    assert jobs == 0
    want = with_value(raw).filter(F.col("ts") >= CUTOFF)
    assert retained.schema == want.schema
    cols = ["conv_id", "turn_idx", "text", "ts"]
    assert sorted(retained.select(cols).collect()) == sorted(want.select(cols).collect())


class _TamperingIO(TableIO):
    """Corrupts the straddling-file rewrite of ``raw_retained`` as it
    commits; every other table is written untouched."""

    def __init__(self, root, tamper):
        super().__init__(root)
        self.tamper = tamper

    def append(self, df, table, meta=None, partition_by=None):
        if table == "raw_retained":
            df = self.tamper(df)
        return super().append(df, table, meta=meta, partition_by=partition_by)


def _change_one_text(df):
    first = df.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").first()
    hit = (F.col("conv_id") == first.conv_id) & (F.col("turn_idx") == first.turn_idx)
    return df.withColumn("text", F.when(hit, F.lit("TAMPERED")).otherwise(F.col("text")))


def _add_copies_of_one_row(copies):
    def tamper(df):
        one = df.orderBy("conv_id", "turn_idx").limit(1)
        for _ in range(copies):
            df = df.unionByName(one)
        return df

    return tamper


@pytest.mark.parametrize(
    "tamper",
    [_change_one_text, _add_copies_of_one_row(1), _add_copies_of_one_row(2)],
    # Two extra copies cancel in bit_xor: only the row count catches them.
    ids=["text", "duplicate", "duplicate_pair"],
)
def test_tampered_rewrite_fails_integrity_check(spark, bronze, tmp_path, tamper):
    io = _TamperingIO(str(tmp_path / "wh"), tamper)
    with pytest.raises(StageFailure, match="rewritten-file text integrity check failed"):
        run_pipeline(spark, spark.read.parquet(bronze), io, _cfg(retention_cutoff=CUTOFF))


def test_failed_integrity_check_leaves_retention_to_rerun(spark, bronze, tmp_path):
    """A rewrite that fails its check commits no retention lineage row, so a
    re-run redoes and re-verifies retention instead of trusting it."""
    root = str(tmp_path / "wh")
    raw = spark.read.parquet(bronze)
    cfg = _cfg(retention_cutoff=CUTOFF)
    with pytest.raises(StageFailure):
        run_pipeline(spark, raw, _TamperingIO(root, _change_one_text), cfg)
    io = TableIO(root)
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    assert "retention" not in set(lin.stage)
    again = run_pipeline(spark, raw, io, cfg)
    assert again["stages"]["retention"] == 1 and again["integrity_ok"]
    retained = read_raw_retained(spark, io)
    assert retained.filter(F.col("text") == "TAMPERED").count() == 0
    assert retained.count() == raw.filter(F.col("ts") >= CUTOFF).count()
