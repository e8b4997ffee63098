"""End-to-end pipeline: correctness, lineage, retention invariant, kill/resume."""

import pytest
from pyspark.sql import functions as F

from mpnsm_spark.operators.rollup import rollup_raw
from mpnsm_spark.plans.pipeline import (
    LINEAGE_TABLE,
    PipelineConfig,
    StageFailure,
    normalize,
    read_chunks,
    read_gapfill,
    read_raw_retained,
    read_tier,
    run_pipeline,
    verify_turn_integrity,
)
from mpnsm_spark.sources.tableio import TableIO

from .oracle_pandas import compare_frames

FLOATS = ("value_sum", "value_min", "value_max", "value_avg", "first_value", "last_value")
KEYS = ["conv_id", "bucket_start"]


def _cfg(**kw):
    defaults = dict(num_buckets=4, points_per_chunk=512, gapfill_tiers=("1d",))
    defaults.update(kw)
    return PipelineConfig(**defaults)


def test_pipeline_end_to_end(spark, transcripts, tmp_path):
    io = TableIO(str(tmp_path / "warehouse"))
    summary = run_pipeline(spark, transcripts, io, _cfg())
    assert summary["integrity_ok"]
    assert summary["input_turns"] == transcripts.count()

    # Tier tables match direct rollups of the normalized input.
    norm = normalize(transcripts, 4).drop("bucket_id")
    for tier in ("1m", "1h", "1d"):
        stored = read_tier(spark, io, tier).toPandas()
        direct = rollup_raw(norm, tier).toPandas()
        compare_frames(stored, direct, KEYS, float_cols=FLOATS)

    # Chunks decode back to tier points.
    from mpnsm_spark.operators.gorilla import decode_chunks

    dec = decode_chunks(read_chunks(spark, io, "1h")).count()
    assert dec == read_tier(spark, io, "1h").count()

    # Gap-fill table exists and is dense per conv.
    gf = read_gapfill(spark, io, "1d")
    assert gf.count() >= read_tier(spark, io, "1d").count()

    # Lineage: every stage has one ok row per bucket.
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    for stage in (
        "tier_1m",
        "tier_1h",
        "tier_1d",
        "gapfill_1d",
        "chunks_1m",
        "chunks_1h",
        "chunks_1d",
        "retention",
    ):
        got = lin[(lin.stage == stage) & (lin.status == "ok")].bucket_id.nunique()
        assert got == 4, f"stage {stage}: {got} buckets"
    # Chunk stages report encode_bytes.
    assert (lin[lin.stage == "chunks_1m"].encode_bytes > 0).all()


def test_retention_cutoff_drops_raw_but_keeps_tiers(spark, transcripts, tmp_path):
    io = TableIO(str(tmp_path / "wh2"))
    cutoff = "2025-01-15 00:00:00"
    summary = run_pipeline(spark, transcripts, io, _cfg(retention_cutoff=cutoff))
    assert summary["integrity_ok"]
    retained = read_raw_retained(spark, io)
    assert retained.filter(F.col("ts") < cutoff).count() == 0
    # Tiers still cover the dropped period (retention safety, FIXTURES.md).
    t1d = read_tier(spark, io, "1d")
    assert t1d.filter(F.col("bucket_start") < cutoff).count() > 0
    # All retained turns match the source text exactly.
    src = normalize(transcripts, 4).filter(F.col("ts") >= cutoff)
    joined = src.alias("s").join(
        retained.alias("r"), ["conv_id", "turn_idx"], "full"
    )
    mism = joined.filter(
        F.col("s.text").isNull()
        | F.col("r.text").isNull()
        | (F.col("s.text") != F.col("r.text"))
    )
    assert mism.count() == 0


def test_kill_resume_idempotent(spark, transcripts, tmp_path):
    """Crash after tier_1h commits → resume completes; outputs identical to a
    clean one-shot run (resume idempotence, SURVEY.md §5.3)."""
    io = TableIO(str(tmp_path / "wh3"))
    cfg = _cfg(wave_size=2)
    with pytest.raises(StageFailure):
        run_pipeline(spark, transcripts, io, cfg, fail_after_stage="tier_1h")
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    assert set(lin[lin.stage == "tier_1m"].bucket_id) == {0, 1, 2, 3}
    # tier_1h only got its first wave before the crash
    assert set(lin[lin.stage == "tier_1h"].bucket_id) == {0, 1}

    resumed = run_pipeline(spark, transcripts, io, _cfg(wave_size=2))
    assert resumed["integrity_ok"]
    assert resumed["input_turns"] == transcripts.count()
    # Resume skipped completed buckets.
    assert resumed["stages"]["tier_1m"] == 0
    assert resumed["stages"]["tier_1h"] == 2

    # Byte-identical tier content vs a clean run.
    io_clean = TableIO(str(tmp_path / "wh3_clean"))
    run_pipeline(spark, transcripts, io_clean, _cfg())
    for tier in ("1m", "1h", "1d"):
        a = read_tier(spark, io, tier).toPandas()
        b = read_tier(spark, io_clean, tier).toPandas()
        compare_frames(a, b, KEYS, float_cols=FLOATS)


def test_resume_noop_when_complete(spark, transcripts, tmp_path):
    io = TableIO(str(tmp_path / "wh4"))
    run_pipeline(spark, transcripts, io, _cfg())
    again = run_pipeline(spark, transcripts, io, _cfg())
    assert all(v == 0 for v in again["stages"].values())


def test_integrity_detects_corruption(spark, transcripts, tmp_path):
    io = TableIO(str(tmp_path / "wh5"))
    run_pipeline(spark, transcripts, io, _cfg())
    norm = normalize(transcripts, 4)
    tampered = norm.withColumn(
        "text", F.when(F.col("turn_idx") == 0, F.lit("TAMPERED")).otherwise(F.col("text"))
    )
    assert verify_turn_integrity(spark, io, norm)
    assert not verify_turn_integrity(spark, io, tampered)


def _checksums_match_join(reference_df, stored_df):
    """``checksums_match`` in its earlier form, kept as the parity oracle:
    one per-conversation aggregate per side and a full join."""

    def checksum(df):
        return df.groupBy("conv_id").agg(
            F.bit_xor(F.xxhash64("turn_idx", "text", "ts")).alias("chk"),
            F.count(F.lit(1)).alias("n"),
        )

    mismatch = (
        F.col("r.chk").isNull()
        | F.col("g.chk").isNull()
        | (F.col("r.chk") != F.col("g.chk"))
        | (F.col("r.n") != F.col("g.n"))
    )
    bad, stored_rows = (
        checksum(reference_df)
        .alias("r")
        .join(checksum(stored_df).alias("g"), "conv_id", "full")
        .agg(F.count_if(mismatch), F.sum("g.n"))
        .collect()[0]
    )
    return bad == 0, stored_rows or 0


def _turns(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(c, i, txt, t0 + dt.timedelta(seconds=s)) for c, i, txt, s in rows],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )


_REF = [("a", 0, "hi", 0), ("a", 1, "yo", 5), ("a", 1, "yo", 5), ("b", 0, "x", 9)]
_STORED = {
    "same_rows_reordered": (True, [_REF[3], _REF[1], _REF[0], _REF[2]]),
    "conversation_missing_in_stored": (False, _REF[:3]),
    "conversation_missing_in_reference": (False, _REF + [("c", 0, "z", 1)]),
    "changed_text": (False, [("a", 0, "HI", 0)] + _REF[1:]),
    "changed_ts": (False, [("a", 0, "hi", 1)] + _REF[1:]),
    "changed_turn_idx": (False, [("a", 2, "hi", 0)] + _REF[1:]),
    "added_duplicate": (False, _REF + [_REF[3]]),
    # two extra copies cancel in bit_xor: only the row count catches them
    "added_duplicate_pair": (False, _REF + [_REF[3], _REF[3]]),
    "dropped_duplicate": (False, _REF[:2] + _REF[3:]),
    "null_conversation_on_both_sides": (False, _REF + [(None, 0, "n", 0)]),
}


@pytest.mark.parametrize("case", sorted(_STORED))
def test_checksums_match_parity_with_join_form(spark, case):
    """The one-shuffle check fails exactly where the two-aggregate join did,
    on every mismatch class, and counts the same stored rows."""
    from mpnsm_spark.plans.pipeline import checksums_match

    want_match, stored = _STORED[case]
    ref_rows = _REF + ([(None, 0, "n", 0)] if case.startswith("null") else [])
    reference, stored_df = _turns(spark, ref_rows), _turns(spark, stored)
    got = checksums_match(reference, stored_df)
    assert got == _checksums_match_join(reference, stored_df)
    assert got == (want_match, len(stored))


def test_engine_tables_read_without_planning_jobs(spark, tmp_path):
    """On a fresh pipeline + manager warehouse, building a read of any table
    the engine wrote submits no Spark job: the manifests' recorded schema
    replaces inference (and equals what Spark infers from the files), and
    snapshots listing disjoint buckets need no keep-last aggregate. Two
    snapshots listing the same bucket still keep only the later one's rows."""
    import os

    from mpnsm_spark import TIERS
    from mpnsm_spark.generator import generate_transcripts, with_value
    from mpnsm_spark.plans.manager import run_manager

    raw = with_value(generate_transcripts(spark, n_convs=6, n_turns=600, seed=3))
    io = TableIO(str(tmp_path / "wh"))
    cfg = _cfg()
    run_pipeline(spark, raw, io, cfg)
    config = [{"unit": {}, "targets": [{"target_col": "value_avg"}]}]
    tier = read_tier(spark, io, "1m")
    run_manager(spark, tier, io, config, ["conv_id"], order_col="bucket_start", cfg=cfg)

    tables = sorted(t for t in os.listdir(io.root) if t != LINEAGE_TABLE)
    want = {"tier_1m", "gapfill_1d", "chunks_1d", "raw_retained", "mgr_fcst_value_avg"}
    assert want <= set(tables)
    for t in tables:
        jobs, df = _jobs_of(spark, lambda: io.read(spark, t))
        assert jobs == 0, t
        files = [os.path.join(io.root, t, "data", f) for f in io._committed_files(t)]
        assert df.schema == spark.read.parquet(*files).schema, t
        for v in range(1, io.snapshot_version(t) + 1):
            jobs, _ = _jobs_of(spark, lambda: io.read_snapshot(spark, t, v))
            assert jobs == 0, (t, v)
    reads = [lambda t=t: read_tier(spark, io, t) for t in TIERS] + [
        lambda: read_chunks(spark, io, "1m"),
        lambda: read_gapfill(spark, io, "1d"),
        lambda: read_raw_retained(spark, io),
    ]
    for read in reads:
        jobs, _ = _jobs_of(spark, read)
        assert jobs == 0

    # A crash between data and lineage re-writes a bucket at a higher _v.
    first = io.read_snapshot(spark, "tier_1m", 1)
    bucket = first.first().bucket_id
    hot = first.filter(F.col("bucket_id") == bucket)
    convs = {r.conv_id for r in hot.select("conv_id").distinct().collect()}

    def values():
        tier = read_tier(spark, io, "1m").select("conv_id", "bucket_start", "value_avg")
        return {(r[0], r[1]): r[2] for r in tier.collect()}

    before = values()
    io.append(
        hot.withColumns({"value_avg": F.col("value_avg") + 1, "_v": F.lit(2)}),
        "tier_1m",
        meta={**io.table_meta("tier_1m"), "buckets": [bucket]},
    )
    assert not io.buckets_disjoint("tier_1m")
    assert values() == {k: v + 1 if k[0] in convs else v for k, v in before.items()}


def test_normalize_dedupes_keep_last(spark, transcripts):
    dup = transcripts.unionByName(
        transcripts.limit(50).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
        ).withColumn("text", F.lit("NEWER"))
    )
    norm = normalize(dup, 4)
    assert norm.count() == transcripts.count()
    assert norm.filter(F.col("text") == "NEWER").count() == 50


def test_dedupe_strict_ties_keeps_one_consistent_row(spark):
    """Tied-ts duplicates with differing payloads: strict_ties must keep ONE
    row (the lexicographic max over (ts, role_id, tool_id, value)), never a
    column-mixed frankenrow."""
    from mpnsm_spark.plans.pipeline import dedupe_encoded

    pre = spark.createDataFrame(
        [
            ("c", 1, "2025-01-01 00:00:00", 1, 9, 1.0),
            ("c", 1, "2025-01-01 00:00:00", 2, 0, 0.5),
        ],
        "conv_id string, turn_idx int, ts string, role_id int, tool_id int, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = dedupe_encoded(pre, strict_ties=True).collect()
    assert len(out) == 1
    r = out[0]
    # max struct: ts ties -> role_id 2 wins -> its full payload (0, 0.5)
    assert (r.role_id, r.tool_id, r.value) == (2, 0, 0.5)


def _tier_snap(spark, conv_id, tools_mask, bucket_id, v):
    """Minimal stored-schema tier snapshot (one row) for vocab tests."""
    from mpnsm_spark.operators.rollup import TIER_COLUMNS_STORED

    row = {
        "conv_id": conv_id,
        "bucket_start": "2025-01-01 00:00:00",
        "turn_count": 1,
        "first_turn_idx": 0,
        "last_turn_idx": 0,
        "n_user": 1,
        "n_assistant": 0,
        "n_system": 0,
        "n_tool": 0,
        "value_sum": 1.0,
        "value_min": 1.0,
        "value_max": 1.0,
        "value_avg": 1.0,
        "first_value": 1.0,
        "last_value": 1.0,
        "tools_mask": tools_mask,
        "bucket_id": bucket_id,
        "_v": v,
    }
    df = spark.createDataFrame([tuple(row.values())], list(row.keys()))
    df = df.withColumns(
        {
            "bucket_start": F.to_timestamp("bucket_start"),
            "tools_mask": F.col("tools_mask").cast("long"),
        }
    )
    return df.select(*TIER_COLUMNS_STORED, "bucket_id", "_v")


def test_tool_vocab_prefix_merge_decodes_old_snapshots(spark, tmp_path):
    """Masks written under an earlier (shorter) vocab must decode correctly
    after a later run appends new tools: bit positions are append-only."""
    from mpnsm_spark.plans.pipeline import read_tier, reconcile_tool_vocab

    io = TableIO(str(tmp_path / "whv"))
    io.append(_tier_snap(spark, "a", 1, 0, 1), "tier_1m", meta={"tool_vocab": ["zeta"]})
    merged = reconcile_tool_vocab(io, ["alpha", "zeta"])
    assert merged == ["zeta", "alpha"]  # zeta keeps bit 0, alpha appends
    io.append(_tier_snap(spark, "b", 2, 1, 2), "tier_1m", meta={"tool_vocab": merged})
    out = {r.conv_id: r.tools for r in read_tier(spark, io, "1m").collect()}
    assert out == {"a": ["zeta"], "b": ["alpha"]}


def test_tool_vocab_divergence_fails_loudly(spark, tmp_path):
    """A snapshot encoded under a NON-prefix vocab (the pre-fix re-sorted
    dictionary) must refuse to decode instead of silently swapping tools."""
    from mpnsm_spark.plans.pipeline import read_tier, reconcile_tool_vocab

    io = TableIO(str(tmp_path / "whd"))
    io.append(_tier_snap(spark, "a", 1, 0, 1), "tier_1m", meta={"tool_vocab": ["zeta"]})
    io.append(
        _tier_snap(spark, "b", 1, 0, 2),
        "tier_1m",
        meta={"tool_vocab": ["alpha", "zeta"]},  # re-sorted: zeta moved to bit 1
    )
    with pytest.raises(ValueError, match="prefix"):
        read_tier(spark, io, "1m")
    with pytest.raises(ValueError, match="divergence"):
        reconcile_tool_vocab(io, ["alpha"])


def test_tool_vocab_past_mask_width_fails_before_any_write(spark, tmp_path):
    """65 distinct tools cannot share one long ``tools_mask`` (Spark's
    ``shiftleft(1, 64)`` wraps to 1, aliasing the 65th tool onto the first):
    run_pipeline raises a ValueError naming the dictionary size before any
    stage commits."""
    import datetime as dt

    from mpnsm_spark.schema import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2025, 1, 1, 10, 0)
    rows = [
        ("c0", i, "tool", "x" * (i + 1), f"tool{i:02d}", t0 + dt.timedelta(seconds=i))
        for i in range(65)
    ]
    raw = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    io = TableIO(str(tmp_path / "wh65"))
    with pytest.raises(ValueError, match="tool vocabulary 65"):
        run_pipeline(spark, raw, io, _cfg())
    assert not io.exists("tier_1m")


LINEAGE_COLUMNS = [
    "run_id", "stage", "bucket_id", "input_rows", "output_rows", "encode_bytes",
    "wall_seconds", "status", "version", "error_class", "n_errors",
]


def test_every_lineage_file_has_one_schema(spark, tmp_path):
    """Tier, leaf, retention and (poisoned) kernel stages, and the streaming
    sink, all write lineage files with the same 11 columns in one order."""
    import glob
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from mpnsm_spark.generator import generate_transcripts, with_value
    from mpnsm_spark.plans.pipeline import KernelStage, run_kernel_stage
    from mpnsm_spark.schema import TRANSCRIPT_SCHEMA
    from mpnsm_spark.streaming.rollup_stream import stream_to_tableio

    raw = with_value(generate_transcripts(spark, n_convs=6, n_turns=300, seed=5))
    poison_conv = raw.select("conv_id").first().conv_id

    def kernel(pdf):
        if (pdf["conv_id"] == poison_conv).any():
            raise ValueError("poisoned series")
        return pdf.groupby("conv_id", as_index=False).agg(n=("turn_count", "sum"))

    stage = KernelStage(name="totals", fn=kernel, output_schema="conv_id string, n long")
    io = TableIO(str(tmp_path / "wh"))
    run_pipeline(spark, raw, io, _cfg())
    result = run_kernel_stage(spark, io, stage, read_tier(spark, io, "1m"), _cfg())
    assert result["errored_series"] == 1

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        [
            ("c1", 0, "user", "a", "exec", "2025-01-01 10:00:10"),
            ("__flush__", 0, "user", "x", None, "2025-01-01 11:00:00"),
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = (
        stream_to_tableio(
            spark,
            with_value(stream),
            io,
            table="stream_tier",
            tool_vocab=["exec"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_buckets=4,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    files = glob.glob(os.path.join(io.root, LINEAGE_TABLE, "data", "*.parquet"))
    schemas = {
        tuple((f.name, str(f.type)) for f in pq.read_schema(path)) for path in files
    }
    assert len(schemas) == 1, schemas
    assert [name for name, _ in schemas.pop()] == LINEAGE_COLUMNS
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    assert {"tier_1m", "chunks_1d", "totals", "stream_stream_tier"} <= set(lin.stage)
    assert (lin.status == "error").sum() == 1
    assert ((lin.status == "error") == (lin.n_errors > 0)).all()
    stream_rows = lin[lin.stage == "stream_stream_tier"]
    assert stream_rows.output_rows.sum() == 1 and stream_rows.error_class.isna().all()


def _check_lineage_values(spark, tmp_path, gapfill_tiers):
    """A fresh run over 3 conversations in 8 buckets (most of them empty):
    the lineage's stages, ``_dag_stages`` and the summary's stages are one
    set; every tier, gap-fill and chunk stage has exactly one ok lineage row
    per bucket, and each value matches the stage's stored table."""
    import pandas as pd

    from mpnsm_spark.generator import generate_transcripts, with_value
    from mpnsm_spark.plans.pipeline import _dag_stages

    raw = with_value(generate_transcripts(spark, n_convs=3, n_turns=300, seed=11))
    io = TableIO(str(tmp_path / "wh"))
    cfg = _cfg(num_buckets=8, gapfill_tiers=gapfill_tiers)
    summary = run_pipeline(spark, raw, io, cfg)
    lin = io.read(spark, LINEAGE_TABLE).toPandas()
    empty = 0
    stages = (
        "tier_1m", "tier_1h", "tier_1d", *(f"gapfill_{t}" for t in gapfill_tiers),
        "chunks_1m", "chunks_1h", "chunks_1d",
    )
    assert set(lin.stage) == set(_dag_stages(cfg)) == set(summary["stages"])
    assert set(lin.stage) == {*stages, "retention"}
    for stage in stages:
        stored = io.read(spark, stage).toPandas()
        by_bucket = stored.groupby("bucket_id")
        if stage.startswith("tier_"):
            inputs = by_bucket["turn_count"].sum()
        elif stage.startswith("gapfill_"):
            inputs = (~stored["is_gap"]).groupby(stored["bucket_id"]).sum()
        else:
            inputs = by_bucket["n_points"].sum()
        encoded = (
            (stored["ts_blob"].map(len) + stored["value_blob"].map(len))
            .groupby(stored["bucket_id"])
            .sum()
            if stage.startswith("chunks_")
            else pd.Series(dtype="int64")
        )
        rows = lin[lin.stage == stage].set_index("bucket_id").sort_index()
        assert list(rows.index) == list(range(8)), stage
        assert (rows.status == "ok").all(), stage
        for b, r in rows.iterrows():
            want = (
                int((stored["bucket_id"] == b).sum()),
                int(inputs.get(b, 0)),
                int(encoded.get(b, 0)),
                io.snapshot_version(stage),
            )
            got = (r.output_rows, r.input_rows, r.encode_bytes, r.version)
            assert got == want, (stage, b)
            assert r.n_errors == 0 and pd.isna(r.error_class), (stage, b)
        empty += int((rows.output_rows == 0).sum())
    assert empty > 0  # empty buckets are covered too


def test_lineage_values_match_stored_tables(spark, tmp_path):
    _check_lineage_values(spark, tmp_path, ("1d",))


def test_lineage_values_match_stored_tables_without_gapfill(spark, tmp_path):
    _check_lineage_values(spark, tmp_path, ())


def _jobs_of(spark, fn):
    """(Spark jobs submitted while ``fn`` ran, its result), from the status
    tracker's newest job id. Nothing else may run in the session meanwhile."""
    sc = spark.sparkContext

    def newest_job() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the scheduler
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    before = newest_job()
    out = fn()
    return newest_job() - before, out


def test_bookkeeping_submits_no_spark_jobs(spark, tmp_path):
    """On a finished warehouse: reading lineage and committing lineage rows
    run on the driver, and a no-op re-run submits no Spark job (not even
    the vocabulary scan)."""
    from mpnsm_spark.generator import generate_transcripts, with_value
    from mpnsm_spark.plans.pipeline import _lineage_rows, load_lineage_map

    path = str(tmp_path / "raw")
    generated = generate_transcripts(spark, n_convs=8, n_turns=800, seed=9)
    with_value(generated).write.parquet(path)
    raw = spark.read.parquet(path)  # a bare scan: file-level retention
    io = TableIO(str(tmp_path / "wh"))
    run_pipeline(spark, raw, io, _cfg())

    jobs, done = _jobs_of(spark, lambda: load_lineage_map(io))
    assert jobs == 0
    assert done["tier_1m"] == {0, 1, 2, 3} and done["retention"] == {-1}

    rows = _lineage_rows("probe", "probe", [{"bucket_id": 0, "output_rows": 1}], 0.5, 1)
    jobs, _ = _jobs_of(spark, lambda: io.append(rows, LINEAGE_TABLE))
    assert jobs == 0
    assert load_lineage_map(io)["probe"] == {0}

    jobs, again = _jobs_of(spark, lambda: run_pipeline(spark, raw, io, _cfg()))
    assert not any(again["stages"].values())
    assert again["input_turns"] == raw.count()
    assert jobs == 0


def test_unknown_fail_after_stage_raises_before_any_job(spark, transcripts, tmp_path):
    """A ``fail_after_stage`` that names no stage of the run (a misspelling,
    or a gap-fill stage the config does not run) raises before any Spark
    job, instead of running the whole pipeline without the crash."""
    io = TableIO(str(tmp_path / "wh"))

    def run(name):
        with pytest.raises(ValueError, match=name):
            run_pipeline(spark, transcripts, io, _cfg(), fail_after_stage=name)

    for name in ("tier_1hh", "gapfill_1h"):
        jobs, _ = _jobs_of(spark, lambda: run(name))
        assert jobs == 0, name
    assert not io.exists(LINEAGE_TABLE)


def test_unknown_gapfill_tier_raises_before_any_job(spark, transcripts, tmp_path):
    """A ``gapfill_tiers`` entry naming a tier the DAG does not gap-fill
    (1m, a misspelling) raises before any Spark job, instead of running the
    pipeline without that gap-fill."""
    io = TableIO(str(tmp_path / "wh"))

    def run(tiers):
        with pytest.raises(ValueError, match="gapfill_tiers"):
            run_pipeline(spark, transcripts, io, _cfg(gapfill_tiers=tiers))

    for tiers in (("1m", "1h"), ("1hh",)):
        jobs, _ = _jobs_of(spark, lambda: run(tiers))
        assert jobs == 0, tiers
    assert not io.exists(LINEAGE_TABLE)


def test_run_pipeline_restores_caller_job_description(spark, tmp_path):
    """Stages label the thread they run on; the caller's own job description
    comes back on return, so its later jobs are not booked to a stage."""
    from mpnsm_spark.generator import generate_transcripts, with_value

    raw = with_value(generate_transcripts(spark, n_convs=4, n_turns=200, seed=5))
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        run_pipeline(spark, raw, TableIO(str(tmp_path / "wh")), _cfg())
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


def test_kernel_stage_error_lineage_and_resume(spark, transcripts, tmp_path):
    """A poisoned series in a kernel stage: the run completes, the poisoned
    bucket gets a status='error' lineage row (stage, bucket_id, error class),
    the stage's result reports it, and resume reprocesses ONLY the errored
    bucket."""
    from mpnsm_spark.plans.pipeline import KernelStage, run_kernel_stage

    poison_conv = transcripts.select("conv_id").first().conv_id
    calls = {"poisoned": True}

    def make_kernel(poison: bool):
        def kernel(pdf):
            if poison and (pdf["conv_id"] == poison_conv).any():
                raise ValueError("poisoned series")
            return pdf.groupby("conv_id", as_index=False).agg(
                n=("turn_count", "sum")
            )
        return kernel

    def stage(poison):
        return KernelStage(
            name="per_conv_totals",
            fn=make_kernel(poison),
            output_schema="conv_id string, n long",
        )

    io = TableIO(str(tmp_path / "whk"))
    summary = run_pipeline(spark, transcripts, io, _cfg())
    ks = run_kernel_stage(spark, io, stage(True), read_tier(spark, io, "1m"), _cfg())
    assert ks["errored_series"] == 1
    assert list(ks["buckets_error"].values()) == ["ValueError"]
    bad_bucket = next(iter(ks["buckets_error"]))
    lin = io.read(spark, LINEAGE_TABLE, merge_schema=True).toPandas()
    err_rows = lin[(lin.stage == "per_conv_totals") & (lin.status == "error")]
    assert set(err_rows.bucket_id) == {bad_bucket}
    assert (err_rows.error_class == "ValueError").all()
    assert int(err_rows.n_errors.sum()) == 1
    # run completed: every OTHER stage fully green, integrity intact
    assert summary["integrity_ok"]

    # resume with a healthy kernel: ONLY the errored bucket reprocesses
    ks2 = run_kernel_stage(spark, io, stage(False), read_tier(spark, io, "1m"), _cfg())
    assert ks2["buckets_run"] == 1
    assert ks2["buckets_error"] == {}
    summary2 = run_pipeline(spark, transcripts, io, _cfg())
    assert all(v == 0 for v in summary2["stages"].values())
    # stage table now covers every conversation exactly once (keep-last)
    from mpnsm_spark.plans.pipeline import _latest_snapshot

    stored = _latest_snapshot(io.read(spark, "per_conv_totals"))
    n_convs = transcripts.select("conv_id").distinct().count()
    assert stored.select("conv_id").distinct().count() == n_convs
    assert stored.count() == n_convs


def test_kernel_stage_sub_splits_hot_conversations(spark, transcripts, tmp_path):
    """split_threshold bounds every kernel group; per-sub partial outputs
    re-merge associatively to the unsplit result."""
    from mpnsm_spark.plans.pipeline import KernelStage, run_kernel_stage

    def kernel(pdf):
        return pdf.groupby("conv_id", as_index=False).agg(n=("turn_idx", "count"))

    def stage(name, thr):
        return KernelStage(
            name=name,
            fn=kernel,
            output_schema="conv_id string, n long",
            order_col="turn_idx",
            split_threshold=thr,
        )

    io = TableIO(str(tmp_path / "whs"))
    norm = normalize(transcripts, 4)
    r_split = run_kernel_stage(spark, io, stage("counts_split", 50), norm)
    assert r_split["buckets_error"] == {}
    split_out = (
        io.read(spark, "counts_split").groupBy("conv_id").agg(F.sum("n").alias("n"))
    ).toPandas().set_index("conv_id")["n"]
    want = (
        norm.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    )
    assert split_out.sort_index().equals(want.sort_index().astype(split_out.dtype))
    # groups were genuinely bounded: at least one conversation got split
    assert io.read(spark, "counts_split").groupBy("conv_id").count().filter(
        "count > 1"
    ).count() > 0


def test_kernel_stage_split_with_bucket_start_default(spark, transcripts, tmp_path):
    """split_threshold must work with the dataclass's own default
    order_col='bucket_start' (a timestamp) on a tier-shaped source —
    previously an AnalysisException at plan time (ADVICE r3)."""
    from mpnsm_spark.operators.rollup import rollup_raw
    from mpnsm_spark.plans.pipeline import KernelStage, run_kernel_stage

    def kernel(pdf):
        return pdf.groupby("conv_id", as_index=False).agg(
            n=("bucket_start", "count")
        )

    stage = KernelStage(
        name="tier_counts_split",
        fn=kernel,
        output_schema="conv_id string, n long",
        split_threshold=25,  # order_col left at the 'bucket_start' default
    )
    io = TableIO(str(tmp_path / "whts"))
    tier = rollup_raw(normalize(transcripts, 4), "1m")
    r = run_kernel_stage(spark, io, stage, tier)
    assert r["buckets_error"] == {}
    got = (
        io.read(spark, "tier_counts_split")
        .groupBy("conv_id")
        .agg(F.sum("n").alias("n"))
        .toPandas()
        .set_index("conv_id")["n"]
    )
    want = (
        tier.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    )
    assert got.sort_index().equals(want.sort_index().astype(got.dtype))


def test_manager_fit_over_tier_stores_coefficients(spark, transcripts, tmp_path):
    """The REAL model (TrendSeasonalOLS through run_manager's fit kernel)
    over the pipeline's stored 1m tier: the versioned state table holds one
    row per fitted series, its coefficients
    (``model_from_state(row).coefficients()``) match a local refit bitwise,
    and predict-mode forecasts from it equal the refit's."""
    import numpy as np

    from mpnsm_spark.functions.model import TrendSeasonalOLS
    from mpnsm_spark.functions.model_store import load_model_states, model_from_state
    from mpnsm_spark.plans.manager import run_manager

    io = TableIO(str(tmp_path / "whf"))
    run_pipeline(spark, transcripts, io, _cfg())
    config = [{"unit": {}, "horizon": 5, "targets": [
        {"target_col": "value_avg", "model": {"n_changepoints": 2}}]}]
    kw = dict(group_columns=["conv_id"], order_col="bucket_start", min_train=5,
              cfg=PipelineConfig(num_buckets=4))
    tier_df = read_tier(spark, io, "1m")
    fit = run_manager(spark, tier_df, io, config, run_mode="fit", **kw)
    assert all(not s["buckets_error"] for s in fit.stages)

    tier = tier_df.toPandas().sort_values(["conv_id", "bucket_start"])
    sizes = tier.groupby("conv_id").size()
    fitted_expected = set(sizes[sizes >= 5].index)

    models = load_model_states(spark, io, "mgr_models_value_avg").toPandas()
    models = models.set_index("_unit_id")
    # every fitted series has a state row in the versioned model table
    assert set(models.index) == fitted_expected

    pred = run_manager(spark, tier_df, io, config, run_mode="predict", **kw)
    fc = pred.forecasts(spark, io).toPandas()
    for conv, g in tier.groupby("conv_id"):
        if conv not in fitted_expected:
            continue
        m = TrendSeasonalOLS(n_changepoints=2).fit(
            g["value_avg"].to_numpy(np.float64)
        )
        coefs = model_from_state(models.loc[conv].to_dict()).coefficients()
        assert list(coefs) == list(m.coefficients())
        assert (
            np.array(list(coefs.values())) == np.array(list(m.coefficients().values()))
        ).all()
        got = fc[fc["_unit_id"] == conv].sort_values("step")["yhat"].to_numpy()
        assert (got == m.predict(5)).all()
