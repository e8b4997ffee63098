"""End-to-end tier-materialization pipeline: resumable, lineage-tracked.

Pipeline: normalize (dedupe keep-last, stable order semantics) → 1m/1h/1d
tier cascade → gap-fill → Gorilla chunks → retention drop of raw turns —
committed per salt-bucket *wave* with per-bucket lineage rows, resumable by
anti-joining completed buckets.

Resume semantics follow the reference's incremental cache
(``/root/reference/mpnsm/time_series/deprecated/ts_manager.py:123-145,
276-284``): previously-completed work is detected (lineage rows ≡ the
``cache_feat`` flags), skipped (anti-join, J5), and outputs merged with
keep-last dedupe (U2). Versioned lineage rows are the analog of the versioned
``*_v{N}.json`` params artifacts (``manager.py:59-96``).

Crash-safety model with the parquet+manifest TableIO: data appends are atomic
at snapshot granularity (manifest renamed last); lineage is appended *after*
the stage's data. A crash between the two re-runs those buckets on resume,
which can only produce duplicate identical rows — removed by the read-side
keep-last dedupe in :func:`read_tier` / :func:`read_chunks` (with real
Iceberg this becomes MERGE INTO). Retention drops raw turns only after every
tier/chunk stage is lineage-complete AND the per-turn text-equality invariant
verifies (BASELINE.json ``input_hint``).

Execution model (why this scales):

- **One exchange for the whole tier path.** The narrow (no-text) turns are
  hash-repartitioned by ``conv_id`` exactly once; every downstream grouping —
  keep-last dedupe on (conv_id, turn_idx), 1m/1h/1d rollups, gap-fill windows
  and grids — clusters on a superset of ``conv_id``, so Catalyst plans them
  all WITHOUT further shuffles (subset-of-grouping-keys distribution rule).
  At 10^12 turns this is the difference between shuffling the corpus once
  and shuffling it per stage.
- **Fixed-width aggregation only.** role/tool are dictionary-encoded to ints
  before the dedupe (``encode_role_tool``), distinct tools aggregate as a
  ``bit_or`` bitmask — the whole path stays in Tungsten HashAggregate
  (codegen) instead of sort-fallback ObjectHashAggregate. See rollup.py.
- **Clean-run fast path**: when a stage produced *all* buckets in this run,
  its cached output is handed directly to dependent stages — no storage
  read-back, no dedupe window. Storage reads (with keep-last dedupe) happen
  only on resume, where prior snapshots exist.
- **Stage DAG, parallel by default**: the independent 1h/1d branches,
  chunks and retention overlap from concurrent driver threads so the next
  stage's tasks back-fill executors freed by the current stage's tail
  (guide §2.6). Re-measured this round after the per-stage overhead cuts:
  parallel 6.1s vs serial 14.0s at bench scale (an earlier serial default
  dated from when heavier stages contended; ``MPNSM_SERIAL_DAG=1`` or
  ``parallel_stages=False`` restores it). Lineage commits are always
  async; TableIO commits are lock-serialized.
- The wave loop is over salt buckets (a driver-side int list, not data); each
  wave is one declarative Spark job over ``bucket_id IN (...)``. The only
  full raw scans are tier-1m (fused with the dedupe) and the map-only
  retention/integrity pair; 1h/1d cascade from the cached 1m tier.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpnsm_spark import TIERS
from mpnsm_spark.generator import with_value
from mpnsm_spark.operators.gapfill import gapfill_anchored
from mpnsm_spark.operators.gorilla import encode_tier_chunks
from mpnsm_spark.operators.rollup import cascade, rollup_encoded, rollup_raw
from mpnsm_spark.operators.skew import apply_per_series, with_salt
from mpnsm_spark.sources.tableio import TableIO

LINEAGE_TABLE = "lineage"


# -------------------------------------------------------- dictionary encoding


def role_tool_vocabs(df: DataFrame) -> tuple[list[str], list[str]]:
    """Distinct (role, tool) dictionaries in ONE column-pruned scan — both are
    tiny enums in practice; map-side partial distinct reduces each task to
    vocab size before the shuffle."""
    rows = df.select("role", "tool").distinct().collect()
    roles = sorted({r.role for r in rows if r.role is not None})
    tools = sorted({r.tool for r in rows if r.tool is not None})
    return roles, tools


def encode_role_tool(
    df: DataFrame, role_vocab: list[str], tool_vocab: list[str]
) -> DataFrame:
    """role/tool strings → int codes (-1 = null/unknown) so every downstream
    aggregation buffer is fixed-width (pure codegen HashAggregate)."""

    def code(col: F.Column, vocab: list[str]) -> F.Column:
        expr = F.when(col.isNull(), F.lit(-1))
        for i, v in enumerate(vocab):
            expr = expr.when(col == v, F.lit(i))
        return expr.otherwise(F.lit(-1)).cast("int")

    return (
        df.withColumn("role_id", code(F.col("role"), role_vocab))
        .withColumn("tool_id", code(F.col("tool"), tool_vocab))
        .drop("role", "tool")
    )


def dedupe_encoded(pre: DataFrame, strict_ties: bool = False) -> DataFrame:
    """Keep-last dedupe on (conv_id, turn_idx) over encoded narrow rows.

    Default path: per-column max_by keyed on ts — every aggregation buffer is
    fixed-width, so the hottest aggregation in the engine (first pass over all
    raw turns) stays a codegen HashAggregate with map-side partial combine.

    Tie contract (default): rows that tie on ts with *different* payloads
    resolve per-column, possibly assembling a mixed row. The only duplicates
    the pipeline itself produces are crash-resume replays, which are
    bit-identical rows — any resolution yields the same row. Inputs that can
    carry same-(conv,turn,ts) rows with differing payloads should pass
    ``strict_ties=True``: one max_by over a struct ordered by
    (ts, role_id, tool_id, value) keeps a single consistent row
    deterministically, at the cost of the struct buffer demoting the plan to
    SortAggregate (measured: struct-valued max/max_by cannot use
    HashAggregate) — correctness over throughput, explicitly opt-in.
    """
    if strict_ties:
        key = F.struct("ts", "role_id", "tool_id", "value")
        return (
            pre.groupBy("conv_id", "turn_idx")
            .agg(F.max(key).alias("_r"))
            .select(
                "conv_id",
                "turn_idx",
                F.col("_r.ts").alias("ts"),
                F.col("_r.role_id").alias("role_id"),
                F.col("_r.tool_id").alias("tool_id"),
                F.col("_r.value").alias("value"),
            )
        )
    return pre.groupBy("conv_id", "turn_idx").agg(
        F.max("ts").alias("ts"),
        F.max_by("role_id", "ts").alias("role_id"),
        F.max_by("tool_id", "ts").alias("tool_id"),
        F.max_by("value", "ts").alias("value"),
    )


@dataclass
class KernelStage:
    """A per-series pandas-kernel pipeline stage with error isolation.

    ``fn`` runs once per conversation (rows sorted by ``order_col``) and must
    return a frame matching ``output_schema`` (key column carried through).
    ``source`` picks the stage input: ``"norm"`` (deduped encoded turns) or a
    tier name (``"1m"``/``"1h"``/``"1d"``).
    """

    name: str
    fn: object  # Callable[[pd.DataFrame], pd.DataFrame]
    output_schema: str
    source: str = "1m"
    order_col: str = "bucket_start"
    # Sub-split conversations above this many rows into bounded ranges so a
    # hot conversation cannot stall one executor slot (skew.py contract:
    # only safe when downstream re-merge of the kernel's output is
    # associative). None = one group per conversation.
    split_threshold: int | None = None


FORECAST_STAGE_SCHEMA = (
    "conv_id string, step int, yhat double, n_train int, "
    "coef_names array<string>, coef_values array<double>"
)


def ols_forecast_stage(
    name: str = "forecast",
    source: str = "1m",
    value_col: str = "value_avg",
    order_col: str = "bucket_start",
    horizon: int = 12,
    model_kwargs: dict | None = None,
    min_train: int = 8,
) -> KernelStage:
    """The pipeline's DEFAULT forecast stage: the REAL per-series model
    (:class:`~mpnsm_spark.functions.model.TrendSeasonalOLS` — changepoint-
    aware trend + seasonal OLS), not a surrogate, fit on a tier's value
    column with the fitted coefficients cross-joined onto every forecast row
    — the reference's coefficient-enriched forecast output
    (``/root/reference/mpnsm/time_series/manager.py:287-292``:
    ``regressor_coefficients(fcst)`` merged onto the saved results;
    ``model.py:194-222``).

    Because :func:`run_kernel_stage` snapshot-versions the stage's output
    table and stamps per-bucket lineage, every fitted series' coefficients
    are durably recorded per run — the model-lineage record
    (``read_forecast_models`` extracts the one-row-per-series view).
    """
    from mpnsm_spark.functions.model import TrendSeasonalOLS

    kwargs = dict(model_kwargs or {})
    import numpy as _np
    import pandas as _pd

    def kernel(pdf: _pd.DataFrame) -> _pd.DataFrame:
        vals = pdf[value_col].to_numpy(_np.float64)
        cols = [
            "conv_id", "step", "yhat", "n_train", "coef_names", "coef_values",
        ]
        if len(vals) < min_train:
            return _pd.DataFrame({c: [] for c in cols}).astype(
                {"step": "int32", "yhat": float, "n_train": "int32"}
            )
        m = TrendSeasonalOLS(**kwargs).fit(vals)
        coefs = m.coefficients()
        names = list(coefs)
        return _pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "step": _np.arange(1, horizon + 1, dtype=_np.int32),
                "yhat": m.predict(horizon),
                "n_train": _np.int32(len(vals)),
                "coef_names": [names] * horizon,
                "coef_values": [[float(coefs[n]) for n in names]] * horizon,
            }
        )

    return KernelStage(
        name=name,
        fn=kernel,
        output_schema=FORECAST_STAGE_SCHEMA,
        source=source,
        order_col=order_col,
    )


def read_forecast_models(
    spark: SparkSession, io: TableIO, name: str = "forecast"
) -> DataFrame:
    """One row per fitted series from the forecast stage's versioned output:
    (conv_id, n_train, coef_names, coef_values) — the per-series model
    lineage (latest snapshot wins on resume re-runs)."""
    df = io.read(spark, name)
    return (
        df.groupBy("conv_id")
        .agg(
            F.max_by(
                F.struct("n_train", "coef_names", "coef_values"), F.col("_v")
            ).alias("_m")
        )
        .select(
            "conv_id",
            F.col("_m.n_train").alias("n_train"),
            F.col("_m.coef_names").alias("coef_names"),
            F.col("_m.coef_values").alias("coef_values"),
        )
    )


@dataclass
class PipelineConfig:
    num_buckets: int = 16
    wave_size: int | None = None  # buckets per commit wave; None = all at once
    points_per_chunk: int = 4096
    gapfill_tiers: tuple[str, ...] = ("1h", "1d")
    retention_cutoff: str | None = None  # drop raw turns with ts < cutoff
    # File-level retention (Iceberg DELETE-WHERE shape): drop whole files
    # whose footer max(ts) < cutoff, ADOPT untouched files by reference (zero
    # copy), rewrite only cutoff-straddling files. Engages only when raw_df
    # is PROVABLY a bare parquet scan: its optimized plan must be a single
    # leaf relation (any Project/Filter — including row-count-preserving text
    # rewrites — forces the row-level path), footer row totals must equal
    # count(), and the session timezone must be UTC. Set False to force the
    # row-level rewrite unconditionally.
    file_level_retention: bool = True
    # Run independent stages from concurrent driver threads. Default ON
    # (re-measured this round): the round-4 "2x worse" reading predated the
    # batched kernel stages and leaner per-stage commits — the small 1h/1d
    # branch stages are now overhead-bound (~0.7-0.9s each, write + stats
    # jobs), and overlapping them back-fills executors freed by the big
    # stages' tails (guide §2.6). Gated A/B at bench scale (2M turns,
    # local[32]): serial 14.0s vs parallel 6.1s warmed, 21.6 vs 17.5 cold.
    # MPNSM_SERIAL_DAG=1 forces serial regardless.
    parallel_stages: bool = True
    # Per-series kernel stages run after the tier DAG with per-bucket error
    # lineage: a poisoned series yields a status="error" lineage row (stage,
    # bucket_id, error class) instead of failing the run, and only errored
    # buckets reprocess on resume.
    kernel_stages: tuple = ()
    # Ephemeral kernel-stage runs: skip snapshot versioning, lineage and the
    # write/read-back round-trip entirely and hand the stage's output frame
    # straight to the caller. For an unnamed one-shot run (e.g. an ad-hoc
    # manager forecast) the resume machinery is pure fixed overhead — several
    # driver-side jobs and two storage commits per stage for output nobody
    # will ever resume. No resume, no per-bucket error lineage (per-series
    # error ISOLATION still applies: poisoned series drop out, identical
    # rows); durable runs keep the default False.
    ephemeral: bool = False
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])


def reconcile_tool_vocab(io: TableIO, run_vocab: list[str]) -> list[str]:
    """Append-only tools dictionary across runs.

    Stored tiers persist only the ``tools_mask`` bitmask; bit *positions* are
    therefore part of the stored data's meaning. A vocab re-sorted per run
    would silently re-index bits for older snapshots (and corrupt cross-
    snapshot ``bit_or`` cascades on resume). This keeps every previously
    persisted tool at its existing bit position and appends only genuinely
    new tools (sorted) at the end, so the LATEST vocab decodes every snapshot
    ever written under any prefix of it.
    """
    stored: list[str] = []
    for t in ("tier_1m", "tier_1h", "tier_1d"):
        if io.exists(t):
            v = io.table_meta(t).get("tool_vocab") or []
            try:
                _validate_vocab_lineage(io, t, v)
            except ValueError as e:
                raise ValueError(f"tool_vocab divergence within {t}: {e}") from e
            if len(v) > len(stored):
                if v[: len(stored)] != stored:
                    raise ValueError(
                        f"tool_vocab divergence across tier tables: {stored!r} "
                        f"is not a prefix of {v!r} — stored masks were encoded "
                        "under incompatible dictionaries"
                    )
                stored = v
            elif stored[: len(v)] != v:
                raise ValueError(
                    f"tool_vocab divergence across tier tables: {v!r} is not "
                    f"a prefix of {stored!r}"
                )
    return list(stored) + sorted(set(run_vocab) - set(stored))


def _validate_vocab_lineage(io: TableIO, table: str, latest: list[str]) -> None:
    """Fail loudly if any snapshot of ``table`` was written under a vocab
    that is NOT a prefix of ``latest`` — decoding its masks with ``latest``
    would silently re-index bit positions (ADVICE round-2, pipeline vocab)."""
    for meta in io.table_metas(table):
        v = meta.get("tool_vocab")
        if v is not None and latest[: len(v)] != v:
            raise ValueError(
                f"{table}: snapshot written under vocab {v!r} which is not a "
                f"prefix of the current vocab {latest!r}; masks cannot be "
                "decoded safely"
            )


# ------------------------------------------------------------------ normalize


def normalize(raw_df: DataFrame, num_buckets: int) -> DataFrame:
    """Standardize raw turns: derived value column, salt bucket, keep-last
    dedupe on (conv_id, turn_idx).

    Keep-last = latest ``ts`` wins (reference: concat + drop_duplicates
    keep='last', ``deprecated/ts_manager.py:283-284``), implemented as a
    row_number window (SURVEY.md W12). Stable (conv_id, turn_idx) ordering is
    re-established by every downstream consumer via min_by/max_by or explicit
    sort — arrival order is never trusted (O1 invariant).
    """
    df = with_value(raw_df) if "value" not in raw_df.columns else raw_df
    df = with_salt(df, num_buckets)
    # Keep-last as a hash aggregate, NOT a row_number window: (conv, turn) is
    # near-unique, so a window means millions of one-row sort partitions
    # (WindowExec per-partition overhead dominates); max_by gets map-side
    # partial aggregation and no sort.
    others = [c for c in df.columns if c not in ("conv_id", "turn_idx")]
    return (
        df.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(F.struct(*others), F.col("ts")).alias("_r"))
        .select("conv_id", "turn_idx", *[F.col(f"_r.{c}").alias(c) for c in others])
    )


# ------------------------------------------------------------------- lineage


def load_lineage_map(spark: SparkSession, io: TableIO) -> dict[str, set[int]]:
    """One storage read at pipeline start: stage → completed bucket ids."""
    if not io.exists(LINEAGE_TABLE):
        return {}
    rows = (
        io.read(spark, LINEAGE_TABLE, merge_schema=True)
        .filter(F.col("status") == "ok")
        .select("stage", "bucket_id")
        .distinct()
        .collect()
    )
    m: dict[str, set[int]] = defaultdict(set)
    for r in rows:
        m[r.stage].add(r.bucket_id)
    return m


def completed_buckets(spark: SparkSession, io: TableIO, stage: str) -> set[int]:
    return load_lineage_map(spark, io).get(stage, set())


def _lineage_df(
    cfg: PipelineConfig,
    stage: str,
    per_bucket_stats: DataFrame,
    wall_seconds: float,
    version: int,
    n_buckets: int = 1,
) -> DataFrame:
    """Lineage rows as a LAZY select over the per-bucket stats frame, so the
    lineage append is ONE Spark job (no driver collect / re-create).

    ``n_buckets`` (the wave's bucket count, known driver-side) apportions the
    stage wall across rows — previously a global count() window, which fired
    WindowExec's no-partition warning through every stage and moved the
    (tiny) stats frame to one partition for no reason."""
    n_buckets = F.lit(max(int(n_buckets), 1))
    return per_bucket_stats.select(
        F.lit(cfg.run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("bucket_id").cast("int").alias("bucket_id"),
        F.col("input_rows").cast("long").alias("input_rows")
        if "input_rows" in per_bucket_stats.columns
        else F.lit(0).cast("long").alias("input_rows"),
        F.col("output_rows").cast("long").alias("output_rows"),
        (
            F.col("encode_bytes")
            if "encode_bytes" in per_bucket_stats.columns
            else F.lit(0)
        ).cast("long").alias("encode_bytes"),
        (F.lit(float(wall_seconds)) / n_buckets).alias("wall_seconds"),
        F.lit("ok").alias("status"),
        F.lit(version).cast("int").alias("version"),
    )


# ---------------------------------------------------------------- read helpers


def _latest_snapshot(df: DataFrame) -> DataFrame:
    """Keep each bucket's rows from its LATEST committed snapshot.

    The commit unit is (bucket_id, snapshot version): a bucket's rows are
    always fully contained in one snapshot, and a crash-between-data-and-
    lineage re-run rewrites the whole bucket at a higher version with
    identical content. Filtering to max(_v) per bucket is therefore exact
    keep-last dedupe (U2) — and it costs one tiny broadcast join instead of a
    per-row row_number window over the whole table."""
    latest = df.groupBy("bucket_id").agg(F.max("_v").alias("_vmax"))
    return (
        df.join(F.broadcast(latest), "bucket_id")
        .filter(F.col("_v") == F.col("_vmax"))
        .drop("_v", "_vmax", "bucket_id")
    )


def read_tier(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    """Tier table with keep-last snapshot dedupe (U2 cache-merge semantics).

    Stored tiers carry only the fixed-width ``tools_mask``; the derived
    ``tools`` array and ``distinct_tools`` are reconstructed here from the
    vocabulary recorded in the table's manifest meta (persisting them would
    bloat every tier write/cache with a redundant array<string> column)."""
    from mpnsm_spark.operators.rollup import decode_tier

    df = _latest_snapshot(io.read(spark, f"tier_{tier}"))
    if "tools" not in df.columns:
        vocab = io.table_meta(f"tier_{tier}").get("tool_vocab", [])
        # Every snapshot must have been encoded under a prefix of the latest
        # vocab (append-only dictionary, see reconcile_tool_vocab) — decoding
        # rows with a re-indexed vocab would silently swap tools.
        _validate_vocab_lineage(io, f"tier_{tier}", vocab)
        df = decode_tier(df, vocab)
    return df


def read_chunks(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    return _latest_snapshot(io.read(spark, f"chunks_{tier}"))


def read_gapfill(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    return _latest_snapshot(io.read(spark, f"gapfill_{tier}"))


def read_raw_retained(spark: SparkSession, io: TableIO) -> DataFrame:
    """Retained raw turns: adopted-by-reference files (file-level retention)
    unioned with engine-rewritten snapshots (keep-last snapshot dedupe).
    Derived columns are recomputed for adopted rows so both sides align."""
    int_df, ext_df = io.read_parts(spark, "raw_retained")
    parts = []
    if ext_df is not None:
        parts.append(with_value(ext_df))
    if int_df is not None:
        d = _latest_snapshot(int_df)
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.select(*parts[0].columns).unionByName(p.select(*parts[0].columns))
    return out


# ---------------------------------------------------- file-level retention


def _strip_uri(f: str) -> str:
    return f[len("file:"):] if f.startswith("file:") else f


def parquet_footer_stats(files: list[str], ts_col: str = "ts") -> list[dict]:
    """Per-file (path, rows, ts_min, ts_max) from parquet footers — metadata
    reads only, no data I/O. This driver-side loop is the sandbox stand-in
    for an Iceberg manifest scan: at 10^12-turn scale the same min/max/rows
    live in the table's manifest files and the catalog answers this in one
    call; the classification logic below is identical either way.
    """
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.read_metadata(f)
        ci = md.schema.names.index(ts_col)
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        out.append({"path": f, "rows": md.num_rows, "ts_min": lo, "ts_max": hi})
    return out


def classify_files_for_retention(
    stats: list[dict], cutoff
) -> tuple[list[dict], list[dict], list[dict]]:
    """(dropped, adopted, straddling) under ``drop rows with ts < cutoff``.

    Files missing ts stats are conservatively treated as straddling (they get
    rewritten through the filter, which is always correct).
    """
    dropped, adopted, straddling = [], [], []
    for s in stats:
        if cutoff is None:
            adopted.append(s)
        elif s["ts_min"] is None or s["ts_max"] is None:
            straddling.append(s)
        elif s["ts_max"] < cutoff:
            dropped.append(s)
        elif s["ts_min"] >= cutoff:
            adopted.append(s)
        else:
            straddling.append(s)
    return dropped, adopted, straddling


# ------------------------------------------------------------------ integrity


def checksums_match(reference_df: DataFrame, stored_df: DataFrame) -> bool:
    """Order-insensitive per-conversation (turn_idx, text, ts) multiset
    checksum equality. Hashes are computed map-side so only (conv, chk)
    crosses the shuffle — the text column itself NEVER shuffles. bit_xor is
    commutative/associative and overflow-free under ANSI mode; identical
    duplicate rows cancel on BOTH sides equally, so equality still holds."""

    def checksum(df: DataFrame) -> DataFrame:
        return df.groupBy("conv_id").agg(
            F.bit_xor(F.xxhash64("turn_idx", "text", "ts")).alias("chk"),
            F.count(F.lit(1)).alias("n"),
        )

    bad = (
        checksum(reference_df)
        .alias("r")
        .join(checksum(stored_df).alias("g"), "conv_id", "full")
        .filter(
            F.col("r.chk").isNull()
            | F.col("g.chk").isNull()
            | (F.col("r.chk") != F.col("g.chk"))
            | (F.col("r.n") != F.col("g.n"))
        )
    )
    return bad.limit(1).count() == 0


def verify_turn_integrity(
    spark: SparkSession, io: TableIO, reference_df: DataFrame
) -> bool:
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    normalized reference rows vs the stored raw_retained table."""
    return checksums_match(reference_df, read_raw_retained(spark, io))


# ----------------------------------------------------- kernel stages (F1 + P8)


def run_kernel_stage(
    spark: SparkSession,
    io: TableIO,
    stage: KernelStage,
    src: DataFrame,
    cfg: PipelineConfig | None = None,
    key: str = "conv_id",
) -> dict:
    """Run a per-series pandas kernel as a resumable pipeline stage with
    PER-BUCKET ERROR LINEAGE (reference error-isolation contract,
    ``/root/reference/mpnsm/time_series/deprecated/ts_model.py:1258-1260``:
    a failed series must not fail the job).

    A kernel exception for one conversation emits a synthetic error marker
    row instead of propagating; the stage then writes:

    - OK series' output rows to table ``stage.name`` (snapshot-versioned);
    - a ``status="ok"`` lineage row per clean bucket;
    - a ``status="error"`` lineage row per poisoned bucket carrying
      ``error_class`` (first exception class observed) and ``n_errors``
      (poisoned series count in the bucket).

    Resume reprocesses ONLY buckets without an ok row — i.e. exactly the
    errored (or never-run) buckets; clean buckets keep their committed
    snapshots. Everything is one distributed pass of
    :func:`~mpnsm_spark.operators.skew.apply_per_series` with
    ``on_error="mark"``; the error channel rides in its two marker columns,
    no accumulator races, no second job.
    """
    cfg = cfg or PipelineConfig()
    t0 = time.time()
    spark.sparkContext.setJobDescription(f"mpnsm:{stage.name}")
    done = (
        load_lineage_map(spark, io).get(stage.name, set())
        if not cfg.ephemeral and io.exists(LINEAGE_TABLE)
        else set()
    )
    remaining = sorted(set(range(cfg.num_buckets)) - done)
    result = {
        "stage": stage.name,
        "buckets_run": len(remaining),
        "buckets_error": {},
        "output_rows": 0,
        "errored_series": 0,
        "wall_seconds": 0.0,
    }
    if not remaining:
        return result

    salted = src if "bucket_id" in src.columns else with_salt(src, cfg.num_buckets, key=key)
    if len(remaining) < cfg.num_buckets:
        salted = salted.filter(F.col("bucket_id").isin([int(b) for b in remaining]))
    out = apply_per_series(
        salted.drop("bucket_id"),
        stage.fn,
        stage.output_schema,
        split_threshold=stage.split_threshold,
        key=key,
        order_col=stage.order_col,
        on_error="mark",
    )
    if cfg.ephemeral:
        # One-shot mode: same kernel, same per-series error isolation (error
        # marker rows drop out), but the output frame goes straight back to
        # the caller — no snapshot write, no read-back, no lineage commits,
        # no stats collect (4+ driver jobs and 2 storage commits saved).
        result["frame"] = out.filter(F.col("_status") == "ok").drop(
            "_status", "_error"
        )
        result["wall_seconds"] = round(time.time() - t0, 3)
        return result
    # Per-bucket ok/error stats observed DURING the snapshot write
    # (CollectMetrics below the ok-filter sees the error marker rows too):
    # replaces a persist of the whole kernel output plus a separate stats
    # job — one job, no cache pressure.
    from pyspark.sql import Observation

    out = with_salt(out, cfg.num_buckets, key=key)
    obs = Observation()
    metrics = []
    for b in remaining:
        c = F.col("bucket_id") == int(b)
        metrics += [
            F.sum(
                F.when(c & (F.col("_status") == "ok"), 1).otherwise(0)
            ).alias(f"ok{b}"),
            F.sum(
                F.when(c & (F.col("_status") == "error"), 1).otherwise(0)
            ).alias(f"err{b}"),
            F.min(F.when(c, F.col("_error"))).alias(f"cls{b}"),
        ]
    ok_rows = (
        out.observe(obs, *metrics)
        .filter(F.col("_status") == "ok")
        .drop("_status", "_error")
    )
    version = io.append(
        ok_rows.withColumn("_v", F.lit(io.snapshot_version(stage.name) + 1)),
        stage.name,
        meta={"stage": stage.name, "buckets": remaining},
    )
    vals = obs.get  # the write already ran; returns without blocking
    wall = time.time() - t0
    lineage_rows = []
    for b in remaining:
        n_ok = int(vals.get(f"ok{b}") or 0)
        n_err = int(vals.get(f"err{b}") or 0)
        err_cls = vals.get(f"cls{b}") if n_err else None
        if n_err:
            result["buckets_error"][b] = err_cls
        result["errored_series"] += n_err
        result["output_rows"] += n_ok
        lineage_rows.append(
            (
                cfg.run_id,
                stage.name,
                b,
                0,
                n_ok,
                0,
                wall / max(len(remaining), 1),
                "error" if n_err else "ok",
                version,
                err_cls,
                n_err,
            )
        )
    lineage = spark.createDataFrame(
        lineage_rows,
        "run_id string, stage string, bucket_id int, input_rows long, "
        "output_rows long, encode_bytes long, wall_seconds double, "
        "status string, version int, error_class string, n_errors long",
    )
    io.append(lineage.coalesce(1), LINEAGE_TABLE)
    result["wall_seconds"] = round(wall, 3)
    return result


# -------------------------------------------------------------------- pipeline


class StageFailure(RuntimeError):
    pass


def run_pipeline(
    spark: SparkSession,
    raw_df: DataFrame,
    io: TableIO,
    cfg: PipelineConfig | None = None,
    fail_after_stage: str | None = None,
) -> dict:
    """Run (or resume) the full tier-materialization pipeline.

    Returns a summary dict (per-stage remaining-bucket counts and wall times,
    throughput). ``fail_after_stage`` injects a crash after that stage's first
    wave commits — used by the kill/resume idempotence tests.
    """
    cfg = cfg or PipelineConfig()
    t_start = time.time()
    spark.sparkContext.setJobDescription("mpnsm:plan")
    # Scale-critical split: the wide text column NEVER crosses a shuffle.
    # - raw_aug: salted raw rows incl. text — consumed only by map-only
    #   stages (retention write, map-side integrity hashes);
    # - norm: keep-last-deduped NARROW dictionary-encoded rows (no text,
    #   no strings) — repartitioned by conv_id ONCE; the dedupe, every tier
    #   rollup and the gap-fill windows all cluster on conv_id supersets, so
    #   no further exchange exists anywhere in the tier path.
    raw_aug = with_salt(
        with_value(raw_df) if "value" not in raw_df.columns else raw_df,
        cfg.num_buckets,
    )
    narrow = raw_aug.drop("text")
    role_vocab, tool_vocab = role_tool_vocabs(narrow)  # one tiny scan
    # Bit positions in stored tools_mask columns are data: keep previously
    # persisted tools at their positions, append only new ones (resume /
    # incremental runs whose input adds or drops tools stay decodable).
    tool_vocab = reconcile_tool_vocab(io, tool_vocab)
    pre = encode_role_tool(narrow.drop("bucket_id"), role_vocab, tool_vocab)
    norm = with_salt(dedupe_encoded(pre.repartition("conv_id")), cfg.num_buckets)
    multi_wave = cfg.wave_size is not None and cfg.wave_size < cfg.num_buckets
    if multi_wave:
        # Several waves re-filter norm — worth materializing once.
        norm = norm.cache()
    t_norm_done = time.time()
    done_map = load_lineage_map(spark, io)
    all_buckets = set(range(cfg.num_buckets))

    lock = threading.Lock()
    stages_run: dict[str, int] = {}
    stage_seconds: dict[str, float] = {}
    fresh_outputs: dict[str, DataFrame] = {}
    cached: list[DataFrame] = [norm] if multi_wave else []
    errors: list[BaseException] = []
    futs: list = []
    integrity_ok: list[bool] = [False]

    def stage_table(stage: str) -> str:
        return stage if stage != "retention" else "raw_retained"

    def stage_input_rows(stage: str):
        """Meaningful per-bucket input_rows for lineage: raw turns covered by
        tier rows; non-gap anchors for gap-fill; encoded points for chunks;
        retained rows for retention (its input IS what it writes)."""
        if stage.startswith("tier_"):
            return F.sum("turn_count")
        if stage.startswith("gapfill_"):
            return F.sum(F.when(~F.col("is_gap"), 1).otherwise(0))
        if stage.startswith("chunks_"):
            return F.sum("n_points")
        return F.count(F.lit(1))

    def run_stage(stage: str, produce) -> None:
        # Label every job this stage submits (Spark UI / event-log / REST
        # attribution on real clusters; local properties are per-thread).
        spark.sparkContext.setJobDescription(f"mpnsm:{stage}")
        done = done_map.get(stage, set())
        remaining = sorted(all_buckets - done)
        with lock:
            stages_run[stage] = len(remaining)
        t0 = time.time()
        fresh: list[DataFrame] = []
        size = cfg.wave_size or max(len(remaining), 1)
        for i in range(0, len(remaining), size):
            wave = remaining[i : i + size]
            out = produce(wave).withColumn(
                "_v", F.lit(io.snapshot_version(stage_table(stage)) + 1)
            )
            # Cache ONLY tier outputs: cascades/gap-fill/chunks re-read them.
            # Leaf outputs (chunks_*, gapfill_*) are read by nothing but the
            # post-write stats aggregation — caching them costs a columnar
            # build of millions of rows (plus heap pressure) for one scan;
            # stats read the just-written snapshot back instead (pruned).
            # Retention output is the full raw text table — never cache.
            is_tier = stage.startswith("tier_")
            if is_tier:
                out = out.cache()
                with lock:
                    cached.append(out)
            # Small stage outputs coalesce to limit file count; the retention
            # stage rewrites the (large) raw table and must keep full write
            # parallelism — capping it serializes the biggest I/O in the job.
            write_width = max(spark.sparkContext.defaultParallelism, 16)
            to_write = out if stage == "retention" else out.coalesce(write_width)
            version = io.append(
                to_write,
                stage_table(stage),
                meta={"stage": stage, "buckets": wave, "tool_vocab": tool_vocab},
            )
            # Per-bucket lineage in ONE job: stats over the cached output
            # (tiers) or a pruned read-back of the snapshot just written
            # (leaves), left-joined to the wave's bucket ids so empty buckets
            # still get their completion row.
            if is_tier or stage == "retention":
                stats_src = out
            else:
                try:
                    stats_src = io.read_snapshot(
                        spark, stage_table(stage), version
                    )
                except FileNotFoundError:  # empty snapshot (no part files)
                    stats_src = out
            stats = stats_src.groupBy("bucket_id").agg(
                F.count(F.lit(1)).alias("output_rows"),
                stage_input_rows(stage).alias("input_rows"),
                *(
                    [
                        F.sum(
                            F.length("ts_blob") + F.length("value_blob")
                        ).alias("encode_bytes")
                    ]
                    if stage.startswith("chunks_")
                    else []
                ),
            )
            all_ids = spark.range(cfg.num_buckets).select(
                F.col("id").cast("int").alias("bucket_id")
            ).filter(F.col("bucket_id").isin([int(b) for b in wave]))
            stats = all_ids.join(stats, "bucket_id", "left").na.fill(0)
            lineage = _lineage_df(
                cfg, stage, stats, time.time() - t0, version, n_buckets=len(wave)
            )
            # Lineage commits AFTER the data (crash between them only re-runs
            # the bucket) but OFF the critical path: dependents need the data,
            # not the lineage row.
            submit_async(lambda ln=lineage: io.append(ln.coalesce(1), LINEAGE_TABLE))
            fresh.append(out)
            if fail_after_stage == stage:
                raise StageFailure(f"injected failure after stage {stage}")
        if not done and fresh:
            full = fresh[0]
            for f in fresh[1:]:
                full = full.unionByName(f)
            with lock:
                fresh_outputs[stage] = full
        with lock:
            stage_seconds[stage] = round(time.time() - t0, 3)

    def tier_source(tier: str) -> tuple[DataFrame, bool]:
        """(df, clustered): cached fresh output when this run produced all
        buckets (hash-partitioned by conv_id end-to-end — the single
        exchange), else storage read with keep-last dedupe (resume path,
        NOT clustered). Always the STORED (mask-only) schema so every
        snapshot of a tier table is uniform."""
        with lock:
            df = fresh_outputs.get(f"tier_{tier}")
        if df is not None:
            return df.drop("_v"), True
        stored = _latest_snapshot(io.read(spark, f"tier_{tier}")).drop(
            "tools", "distinct_tools"
        )
        return with_salt(stored, cfg.num_buckets), False

    def in_wave(wave):
        if len(wave) == cfg.num_buckets:  # single-wave run: no-op predicate
            return F.lit(True)
        return F.col("bucket_id").isin([int(b) for b in wave])

    def produce_1m(wave):
        sub = norm.filter(in_wave(wave)).drop("bucket_id")
        return with_salt(
            rollup_encoded(sub, "1m", role_vocab, tool_vocab, decode_tools=False),
            cfg.num_buckets,
        )

    def make_cascade(tier: str, parent: str):
        def produce(wave):
            src, _ = tier_source(parent)
            src = src.filter(in_wave(wave)).drop("bucket_id")
            return with_salt(cascade(src, tier, tool_vocab), cfg.num_buckets)

        return produce

    def make_gapfill(tier: str):
        def produce(wave):
            # anchored fast path: tier value_avg is never null (turn_count>=1)
            src, _ = tier_source(tier)
            src = src.filter(in_wave(wave)).drop("bucket_id")
            return with_salt(gapfill_anchored(src, tier), cfg.num_buckets)

        return produce

    def make_chunks(tier: str):
        def produce(wave):
            src, clustered = tier_source(tier)
            src = src.filter(in_wave(wave)).drop("bucket_id")
            out = encode_tier_chunks(
                src,
                tier,
                points_per_chunk=cfg.points_per_chunk,
                # fresh tier caches are hash-partitioned by conv_id already —
                # the encode's repartition would be a redundant full exchange
                assume_clustered=clustered,
            )
            return with_salt(out, cfg.num_buckets)

        return produce

    def produce_retention(wave):
        # Map-only: filter + write, no shuffle of text. Input duplicates (if
        # any) are retained as-arrived; consumers dedupe on read.
        sub = raw_aug.filter(in_wave(wave))
        if cfg.retention_cutoff:
            sub = sub.filter(F.col("ts") >= F.lit(cfg.retention_cutoff))
        return sub

    def run_retention_file_level() -> bool:
        """Iceberg DELETE-WHERE-shaped retention: whole files below the
        cutoff are dropped by footer stats, untouched files are ADOPTED by
        reference (metadata-only, zero copy), and only cutoff-straddling
        files are rewritten + integrity-verified. At 10^12 turns this is the
        difference between a metadata commit and rewriting the corpus.

        Returns False (caller falls back to the row-level rewrite) when the
        input is not PROVABLY a bare file scan: no input files; the optimized
        logical plan carries any node beyond the leaf relation (a Project /
        Filter — even row-count-preserving ones like a text rewrite — means
        adopted file bytes would silently diverge from raw_df's rows); the
        footer row total disagrees with count(); or the session timezone is
        not UTC (footer stats are normalized to naive UTC — classifying
        against a cutoff interpreted in another session zone would
        misclassify files near the boundary).
        """
        import datetime as _dt

        spark.sparkContext.setJobDescription("mpnsm:retention")
        done = done_map.get("retention", set())
        if -1 in done or done >= all_buckets:
            with lock:
                stages_run["retention"] = 0
                integrity_ok[0] = True
            return True
        if done:
            # partial ROW-level retention from a crashed prior run: adopting
            # files now would duplicate the already-written buckets — finish
            # at row level instead.
            return False
        # Zero-I/O bare-scan proof: after optimization a pure parquet scan is
        # a single leaf LogicalRelation (select("*") folds away; ANY
        # transformation leaves a Project/Filter node). Only then are the
        # file bytes and raw_df's rows the same thing, which is what adoption
        # assumes. The row-count cross-check below stays as belt-and-braces.
        plan = raw_df._jdf.queryExecution().optimizedPlan()
        if plan.children().size() != 0 or "Relation" not in plan.nodeName():
            return False
        if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
            return False
        files = [_strip_uri(f) for f in raw_df.inputFiles()]
        if not files or not all(f.endswith(".parquet") for f in files):
            return False
        t0 = time.time()
        stats = parquet_footer_stats(files)
        total_rows = sum(s["rows"] for s in stats)
        if raw_df.count() != total_rows:  # metadata-only count for bare scans
            return False
        cutoff = None
        if cfg.retention_cutoff:
            cutoff = _dt.datetime.fromisoformat(cfg.retention_cutoff)
            for s in stats:  # normalize tz-aware footer stats to naive UTC
                for k in ("ts_min", "ts_max"):
                    v = s[k]
                    if v is not None and v.tzinfo is not None:
                        s[k] = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        dropped, adopted, straddling = classify_files_for_retention(stats, cutoff)
        assert all(
            s["ts_max"] is not None and s["ts_max"] < cutoff for s in dropped
        ), "retention would drop a file not entirely below the cutoff"
        with lock:
            stages_run["retention"] = 1
        rewritten_rows = 0
        version = 0
        ok = True
        if straddling:
            src = spark.read.parquet(*[s["path"] for s in straddling])
            sub = with_salt(with_value(src), cfg.num_buckets).filter(
                F.col("ts") >= F.lit(cfg.retention_cutoff)
            )
            out = sub.withColumn(
                "_v", F.lit(io.snapshot_version("raw_retained") + 1)
            )
            version = io.append(
                out,
                "raw_retained",
                meta={"stage": "retention", "rewrote": len(straddling)},
            )
            int_df, _ = io.read_parts(spark, "raw_retained")
            stored = _latest_snapshot(int_df)
            rewritten_rows = stored.count()
            # Full text-equality verify on the rewritten subset only — the
            # adopted files are the SAME bytes by construction and the
            # dropped files are proven below-cutoff by their footers.
            ok = checksums_match(sub, stored)
        if adopted:
            version = max(
                version,
                io.adopt(
                    [s["path"] for s in adopted],
                    "raw_retained",
                    meta={"stage": "retention", "dropped": len(dropped)},
                ),
            )
        elif not straddling:
            # Everything dropped: commit an empty snapshot so the table reads.
            version = io.append(
                raw_aug.filter(F.lit(False)).withColumn("_v", F.lit(1)),
                "raw_retained",
                meta={"stage": "retention", "dropped": len(dropped)},
            )
        adopted_rows = sum(s["rows"] for s in adopted)
        stats_df = spark.range(1).select(
            F.lit(-1).cast("int").alias("bucket_id"),
            F.lit(adopted_rows + rewritten_rows).cast("long").alias("output_rows"),
            F.lit(total_rows).cast("long").alias("input_rows"),
        )
        lineage = _lineage_df(
            cfg, "retention", stats_df, time.time() - t0, version, n_buckets=1
        )
        submit_async(lambda ln=lineage: io.append(ln.coalesce(1), LINEAGE_TABLE))
        with lock:
            stage_seconds["retention"] = round(time.time() - t0, 3)
            integrity_ok[0] = ok
        if not ok:
            raise StageFailure(
                "rewritten-file text integrity check failed — raw NOT droppable"
            )
        if fail_after_stage == "retention":
            raise StageFailure("injected failure after stage retention")
        return True

    def guarded(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — propagated after join
            with lock:
                errors.append(e)

    import os as _os

    serial_dag = (
        _os.environ.get("MPNSM_SERIAL_DAG") == "1" or not cfg.parallel_stages
    )

    def submit(fn):
        if serial_dag:
            guarded(fn)
            return
        with lock:
            futs.append(ex.submit(guarded, fn))

    def submit_async(fn):
        """Off-critical-path I/O (lineage appends): ALWAYS pooled, even under
        the serial stage DAG — dependents need the stage's data, never its
        lineage row, and these 1-file writes otherwise add a serial barrier
        per stage. The end-of-run wait() drains them before the summary reads
        the lineage table."""
        def labelled():
            spark.sparkContext.setJobDescription("mpnsm:lineage")
            fn()

        with lock:
            futs.append(ex.submit(guarded, labelled))

    # --- stage DAG -----------------------------------------------------------
    # tier_1m is the root: everything depends on it, run it inline in the main
    # thread (its raw scan parallelizes across the cluster anyway); dependent
    # stages + all lineage commits go through the driver-thread pool. The
    # integrity verify chains off retention so it overlaps the tier branches
    # instead of serializing after the DAG.
    with ThreadPoolExecutor(max_workers=12) as ex:

        def chain_tier(tier: str, parent: str):
            def run():
                run_stage(f"tier_{tier}", make_cascade(tier, parent))
                if tier in cfg.gapfill_tiers:
                    submit(lambda: run_stage(f"gapfill_{tier}", make_gapfill(tier)))
                submit(lambda: run_stage(f"chunks_{tier}", make_chunks(tier)))

            return run

        def retention_then_verify():
            if cfg.file_level_retention and run_retention_file_level():
                return
            run_stage("retention", produce_retention)
            ok = verify_turn_integrity(
                spark,
                io,
                raw_aug.filter(F.col("ts") >= F.lit(cfg.retention_cutoff))
                if cfg.retention_cutoff
                else raw_aug,
            )
            with lock:
                integrity_ok[0] = ok
            if not ok:
                raise StageFailure(
                    "per-turn text integrity check failed — raw NOT droppable"
                )

        guarded(lambda: run_stage("tier_1m", produce_1m))
        if not errors:
            submit(lambda: run_stage("chunks_1m", make_chunks("1m")))
            # Both cascades hang off the cached 1m tier so they parallelize;
            # 1d-from-1m is exactly consistent with 1d-from-1h (associative
            # columns) and keeps the critical path two stages deep.
            submit(chain_tier("1h", "1m"))
            submit(chain_tier("1d", "1m"))
            submit(retention_then_verify)

        while True:
            with lock:
                pending = [f for f in futs if not f.done()]
            if not pending:
                break
            wait(pending)

    if errors:
        for df in cached:
            df.unpersist()
        raise errors[0]

    # Per-series kernel stages (error-isolated) run after the tier DAG so
    # they can consume the cached tier frames; a poisoned series marks its
    # bucket status="error" in lineage without failing the run.
    kernel_summaries: dict[str, dict] = {}
    for ks in cfg.kernel_stages:
        src = norm if ks.source == "norm" else tier_source(ks.source)[0]
        kernel_summaries[ks.name] = run_kernel_stage(spark, io, ks, src, cfg)

    t_dag_done = time.time()
    # input_turns (deduped) from the tier_1m lineage the run just committed —
    # no separate count barrier over norm.
    lin = io.read(spark, LINEAGE_TABLE, merge_schema=True).filter(
        (F.col("stage") == "tier_1m") & (F.col("status") == "ok")
    )
    input_turns = (
        lin.groupBy("bucket_id")
        .agg(F.max_by("input_rows", "version").alias("ir"))
        .agg(F.sum("ir"))
        .collect()[0][0]
        or 0
    )

    wall = time.time() - t_start
    for df in cached:
        df.unpersist()
    return {
        "run_id": cfg.run_id,
        "input_turns": input_turns,
        "wall_seconds": wall,
        "turns_per_sec": input_turns / wall if wall > 0 else 0.0,
        "stages": stages_run,
        "stage_seconds": stage_seconds,
        "phase_seconds": {
            "plan_vocab": round(t_norm_done - t_start, 3),
            "stage_dag": round(t_dag_done - t_norm_done, 3),
        },
        "integrity_ok": integrity_ok[0],
        "kernel_stages": kernel_summaries,
    }
