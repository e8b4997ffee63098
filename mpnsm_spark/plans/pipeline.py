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
Iceberg this becomes MERGE INTO). Retention copies the raw turns once the 1m
tier over them is committed, and is recorded done only once the per-turn
text-equality invariant verifies (BASELINE.json ``input_hint``).

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
- **Stage DAG as data, run in parallel**: :func:`_stage_records` declares
  every stage once (name, table, parent, operator, lineage stats), and one
  wave runner serves them all: filter to the wave, apply the operator,
  re-salt, version, cache when the stage has children, write, account. A
  stage's children start when its data commits, from a pool of driver
  threads, so the next stage's tasks back-fill executors freed by the
  current stage's tail (guide §2.6). Gated A/B at bench scale: parallel
  6.1s vs serial 14.0s. TableIO commits are lock-serialized.
- **Bookkeeping on the driver**: lineage rows (one per stage × bucket) are
  built as a ``pyarrow.Table`` and committed by ``TableIO.append`` through
  the same manifest rename as data, and read back with
  ``TableIO.read_arrow`` — neither submits a Spark job. Each wave's commit
  is recorded in one place, which hands its stats collect and lineage
  commit to the pool, off the critical path; file-level retention already
  holds its counts. A re-run whose lineage already covers every stage
  returns before the vocabulary scan: no Spark job.
- **Reads planned from manifests**: each snapshot's manifest records its
  Spark schema, so reading the engine's own tables submits no
  schema-inference job, and keep-last per bucket is skipped when the
  snapshots list disjoint buckets (see :func:`_keep_last`).
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
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import partial, wraps

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from mpnsm_spark.generator import with_value
from mpnsm_spark.operators.gapfill import gapfill_anchored
from mpnsm_spark.operators.gorilla import encode_tier_chunks
from mpnsm_spark.operators.rollup import cascade, encode_role_tool, rollup_encoded
from mpnsm_spark.operators.skew import apply_per_series, with_salt
from mpnsm_spark.schema import LINEAGE_SCHEMA
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
    """A per-series pandas-kernel stage with per-bucket error lineage, run
    by :func:`run_kernel_stage` over the frame its caller passes (the
    manager passes its per-unit rows).

    ``fn`` runs once per series (rows sorted by ``order_col``) and must
    return a frame matching ``output_schema`` (key column carried through).
    """

    name: str
    fn: object  # Callable[[pd.DataFrame], pd.DataFrame]
    output_schema: str
    order_col: str = "bucket_start"
    # Sub-split conversations above this many rows into bounded ranges so a
    # hot conversation cannot stall one executor slot (skew.py contract:
    # only safe when downstream re-merge of the kernel's output is
    # associative). None = one group per conversation.
    split_threshold: int | None = None


@dataclass
class PipelineConfig:
    """Settings of one :func:`run_pipeline` or :func:`run_kernel_stage`
    run: the salt buckets and their commit waves, the chunk size, which
    tiers are gap-filled, the retention cutoff, whether kernel stages keep
    any state, and the run id written into lineage."""

    num_buckets: int = 16
    wave_size: int | None = None  # buckets per commit wave; None = all at once
    points_per_chunk: int = 4096
    gapfill_tiers: tuple[str, ...] = ("1h", "1d")
    retention_cutoff: str | None = None  # drop raw turns with ts < cutoff
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


def _ok_lineage(io: TableIO, *columns: str) -> list[dict]:
    """The committed ``status="ok"`` lineage rows (``columns`` only), read
    on the driver: no Spark job."""
    if not io.exists(LINEAGE_TABLE):
        return []
    rows = io.read_arrow(LINEAGE_TABLE, ["status", *columns]).to_pylist()
    return [r for r in rows if r["status"] == "ok"]


def load_lineage_map(io: TableIO) -> dict[str, set[int]]:
    """Stage → completed bucket ids, from one driver-side read of the
    lineage table (no Spark job)."""
    m: dict[str, set[int]] = defaultdict(set)
    for r in _ok_lineage(io, "stage", "bucket_id"):
        m[r["stage"]].add(r["bucket_id"])
    return m


_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def _lineage_rows(
    run_id: str,
    stage: str,
    per_bucket_stats: list[dict],
    wall_seconds: float,
    version: int,
    n_buckets: int = 1,
) -> pa.Table:
    """Builds every lineage row: a driver-side ``pyarrow.Table`` in
    the 11 columns of :data:`~mpnsm_spark.schema.LINEAGE_SCHEMA`, which
    ``TableIO.append`` commits without a Spark job.

    Each stats dict carries ``bucket_id`` and ``output_rows``;
    ``input_rows``, ``encode_bytes`` and ``n_errors`` default to 0 and
    ``error_class`` to null when absent. ``status`` is ``"error"`` exactly
    when ``n_errors > 0``. ``n_buckets`` apportions the stage wall across
    rows."""
    wall = float(wall_seconds) / max(int(n_buckets), 1)
    rows = []
    for st in per_bucket_stats:
        n_errors = int(st.get("n_errors") or 0)
        rows.append(
            {
                "run_id": run_id,
                "stage": stage,
                "bucket_id": int(st["bucket_id"]),
                "input_rows": int(st.get("input_rows") or 0),
                "output_rows": int(st["output_rows"]),
                "encode_bytes": int(st.get("encode_bytes") or 0),
                "wall_seconds": wall,
                "status": "error" if n_errors > 0 else "ok",
                "version": int(version),
                "error_class": st.get("error_class"),
                "n_errors": n_errors,
            }
        )
    return pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW)


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


def _keep_last(io: TableIO, table: str, df: DataFrame) -> DataFrame:
    """Keep-last per bucket of ``df``, the engine-written rows of ``table``.
    When the table's snapshots list disjoint buckets (every clean run, one
    snapshot per stage wave) it is the identity, so the rows are read as
    they are, with no ``max(_v)`` job; overlapping lists (a crash between
    data and lineage, a kernel stage's errored buckets re-run) and Iceberg
    go through :func:`_latest_snapshot`."""
    if io.buckets_disjoint(table):
        return df.drop("_v", "bucket_id")
    return _latest_snapshot(df)


def read_tier(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    """Tier table with keep-last snapshot dedupe (U2 cache-merge semantics).

    Stored tiers carry only the fixed-width ``tools_mask``; the derived
    ``tools`` array and ``distinct_tools`` are reconstructed here from the
    vocabulary recorded in the table's manifest meta (persisting them would
    bloat every tier write/cache with a redundant array<string> column)."""
    from mpnsm_spark.operators.rollup import decode_tier

    df = _keep_last(io, f"tier_{tier}", io.read(spark, f"tier_{tier}"))
    if "tools" not in df.columns:
        vocab = io.table_meta(f"tier_{tier}").get("tool_vocab", [])
        # Every snapshot must have been encoded under a prefix of the latest
        # vocab (append-only dictionary, see reconcile_tool_vocab) — decoding
        # rows with a re-indexed vocab would silently swap tools.
        _validate_vocab_lineage(io, f"tier_{tier}", vocab)
        df = decode_tier(df, vocab)
    return df


def read_chunks(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    return _keep_last(io, f"chunks_{tier}", io.read(spark, f"chunks_{tier}"))


def read_gapfill(spark: SparkSession, io: TableIO, tier: str) -> DataFrame:
    return _keep_last(io, f"gapfill_{tier}", io.read(spark, f"gapfill_{tier}"))


def read_raw_retained(spark: SparkSession, io: TableIO) -> DataFrame:
    """Retained raw turns: adopted-by-reference files (file-level retention)
    unioned with engine-rewritten snapshots (keep-last snapshot dedupe).
    Derived columns are recomputed for adopted rows so both sides align."""
    int_df, ext_df = io.read_parts(spark, "raw_retained")
    parts = []
    if ext_df is not None:
        parts.append(with_value(ext_df))
    if int_df is not None:
        parts.append(_keep_last(io, "raw_retained", int_df))
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


def checksums_match(reference_df: DataFrame, stored_df: DataFrame) -> tuple[bool, int]:
    """Order-insensitive per-conversation (turn_idx, text, ts) multiset
    checksum equality, and the stored row count, from ONE collect.

    Each row is hashed map-side and signed (+1 reference, -1 stored), so
    only (conv, hash, sign) crosses the one shuffle — the text column
    itself NEVER shuffles. A conversation matches when the bit_xor of both
    sides' hashes is 0 and the signs sum to 0: equal checksums and equal
    row counts, one side missing included. bit_xor is commutative and
    overflow-free under ANSI mode; identical duplicate rows cancel in it
    pairwise, which the row count catches."""

    def signed(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            "conv_id",
            F.xxhash64("turn_idx", "text", "ts").alias("h"),
            F.lit(sign).alias("s"),
        )

    per_conv = (
        signed(reference_df, 1)
        .unionByName(signed(stored_df, -1))
        .groupBy("conv_id")
        .agg(
            F.bit_xor("h").alias("x"),
            F.sum("s").alias("d"),
            F.count_if(F.col("s") < 0).alias("n"),
        )
    )
    # Rows with a null conv_id belong to no conversation to compare: a
    # mismatch, whatever the other side holds.
    mismatch = (F.col("x") != 0) | (F.col("d") != 0) | F.col("conv_id").isNull()
    bad, stored_rows = per_conv.agg(F.count_if(mismatch), F.sum("n")).collect()[0]
    return bad == 0, stored_rows or 0


def verify_turn_integrity(
    spark: SparkSession, io: TableIO, reference_df: DataFrame
) -> bool:
    """Per-turn text equality under stable (conv_id, turn_idx) ordering:
    normalized reference rows vs the stored raw_retained table."""
    return checksums_match(reference_df, read_raw_retained(spark, io))[0]


# ----------------------------------------------------- kernel stages (F1 + P8)


def keeps_job_description(fn):
    """Restore the calling thread's Spark job description when ``fn``
    returns: a stage's label left on the thread would mislabel its later jobs."""

    @wraps(fn)
    def run(spark: SparkSession, *args, **kwargs):
        caller = spark.sparkContext.getLocalProperty("spark.job.description")
        try:
            return fn(spark, *args, **kwargs)
        finally:
            spark.sparkContext.setJobDescription(caller)

    return run


def _kernel_result(name: str, buckets_run: int) -> dict:
    """A kernel stage's summary before it has produced anything."""
    return {
        "stage": name,
        "buckets_run": buckets_run,
        "buckets_error": {},
        "output_rows": 0,
        "errored_series": 0,
        "wall_seconds": 0.0,
    }


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
    no accumulator races, no second job. The resume read and the lineage
    commit both run on the driver (``TableIO.read_arrow`` and a
    ``pyarrow.Table`` append of the write's ``Observation`` counts), so the
    snapshot write is the stage's only Spark job.
    """
    cfg = cfg or PipelineConfig()
    done = load_lineage_map(io).get(stage.name, set()) if not cfg.ephemeral else set()
    remaining = sorted(set(range(cfg.num_buckets)) - done)
    return _run_kernel_buckets(spark, io, stage, src, cfg, key, remaining)


@keeps_job_description
def _run_kernel_buckets(
    spark: SparkSession,
    io: TableIO,
    stage: KernelStage,
    src: DataFrame,
    cfg: PipelineConfig,
    key: str,
    remaining: list[int],
) -> dict:
    """:func:`run_kernel_stage` over the salt buckets ``remaining``: the
    kernel pass, the snapshot write with its ``Observation`` and the
    lineage commit, or the ephemeral frame. Callers choose the buckets."""
    t0 = time.time()
    spark.sparkContext.setJobDescription(f"mpnsm:{stage.name}")
    result = _kernel_result(stage.name, len(remaining))
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
    stats_rows = []
    for b in remaining:
        n_ok = int(vals.get(f"ok{b}") or 0)
        n_err = int(vals.get(f"err{b}") or 0)
        err_cls = vals.get(f"cls{b}") if n_err else None
        if n_err:
            result["buckets_error"][b] = err_cls
        result["errored_series"] += n_err
        result["output_rows"] += n_ok
        stats_rows.append(
            {"bucket_id": b, "output_rows": n_ok, "n_errors": n_err, "error_class": err_cls}
        )
    io.append(
        _lineage_rows(cfg.run_id, stage.name, stats_rows, wall, version, len(remaining)),
        LINEAGE_TABLE,
    )
    result["wall_seconds"] = round(wall, 3)
    return result


# -------------------------------------------------------------------- pipeline


class StageFailure(RuntimeError):
    pass


@dataclass(frozen=True)
class DagStage:
    """One stage of the tier DAG, as data: everything :func:`run_pipeline`'s
    wave runner needs to run, store and account for it.

    ``op`` maps one wave of the stage's input rows (``bucket_id`` dropped)
    to its output rows; its second argument says whether those rows arrive
    hash-partitioned by ``conv_id`` (a parent's fresh cache). ``input_rows``
    and ``stats`` aggregate each bucket's output rows into its lineage
    row: ``input_rows`` is what the stage consumed (raw turns under a tier
    row, non-gap anchors, encoded points, retained turns)."""

    name: str
    table: str
    parent: str | None  # the stage whose committed rows it reads; None = norm
    op: Callable[[DataFrame, bool], DataFrame]
    input_rows: Column
    stats: tuple[Column, ...] = ()
    # A copy of the raw turns (retention): its input is the salted raw rows,
    # text included, and ``parent`` only orders it. It writes at full
    # parallelism (its rows are the corpus), adopts whole files when the
    # input is a bare parquet scan, and is checked turn by turn against its
    # input before it counts as done.
    raw: bool = False


def _stage_records(
    cfg: PipelineConfig, role_vocab: list[str], tool_vocab: list[str]
) -> list[DagStage]:
    """The tier DAG under ``cfg``, each parent before its children: the 1m
    tier over the deduped turns; the 1h and 1d tiers cascaded from it
    (1d-from-1m equals 1d-from-1h on associative columns and keeps the
    critical path two stages deep); each tier's Gorilla chunks and, for
    ``cfg.gapfill_tiers``, its gap-fill; retention once the 1m tier over
    the raw turns is committed. A ``cfg.gapfill_tiers`` entry naming a tier
    the DAG does not gap-fill raises ``ValueError``."""
    cascaded = ("1h", "1d")
    unknown = sorted(set(cfg.gapfill_tiers) - set(cascaded))
    if unknown:
        raise ValueError(
            f"gapfill_tiers={cfg.gapfill_tiers!r}: the DAG gap-fills only the "
            f"tiers {cascaded}, not {unknown}"
        )
    turns = F.sum("turn_count")

    def tier(t: str, parent: str | None, op) -> DagStage:
        return DagStage(f"tier_{t}", f"tier_{t}", parent, op, turns)

    def gapfill(t: str) -> DagStage:
        # anchored fast path: tier value_avg is never null (turn_count>=1)
        return DagStage(
            f"gapfill_{t}",
            f"gapfill_{t}",
            f"tier_{t}",
            lambda df, _: gapfill_anchored(df, t),
            F.sum(F.when(~F.col("is_gap"), 1).otherwise(0)),
        )

    def chunks(t: str) -> DagStage:
        return DagStage(
            f"chunks_{t}",
            f"chunks_{t}",
            f"tier_{t}",
            # fresh tier caches are hash-partitioned by conv_id already —
            # the encode's repartition would be a redundant full exchange
            lambda df, clustered: encode_tier_chunks(
                df, t, points_per_chunk=cfg.points_per_chunk, assume_clustered=clustered
            ),
            F.sum("n_points"),
            (F.sum(F.length("ts_blob") + F.length("value_blob")).alias("encode_bytes"),),
        )

    def retained(df: DataFrame, _) -> DataFrame:
        # Map-only: filter + write, no shuffle of text. Input duplicates (if
        # any) are retained as-arrived; consumers dedupe on read.
        cutoff = cfg.retention_cutoff
        return df.filter(F.col("ts") >= F.lit(cutoff)) if cutoff else df

    stages = [
        tier(
            "1m",
            None,
            lambda df, _: rollup_encoded(df, "1m", role_vocab, tool_vocab, decode_tools=False),
        ),
        chunks("1m"),
    ]
    for t in cascaded:
        stages.append(tier(t, "tier_1m", lambda df, _, t=t: cascade(df, t, tool_vocab)))
        if t in cfg.gapfill_tiers:
            stages.append(gapfill(t))
        stages.append(chunks(t))
    stages.append(
        DagStage("retention", "raw_retained", "tier_1m", retained, F.count(F.lit(1)), raw=True)
    )
    return stages


def _dag_stages(cfg: PipelineConfig) -> list[str]:
    """Every stage the tier DAG runs under ``cfg``."""
    return [st.name for st in _stage_records(cfg, [], [])]


def _remaining(done: set[int], num_buckets: int) -> list[int]:
    """A stage's buckets that its committed lineage does not cover; a
    stage-level row (bucket -1, file-level retention) covers them all."""
    return [] if -1 in done else sorted(set(range(num_buckets)) - done)


def _lineage_covers(done_map: dict[str, set[int]], cfg: PipelineConfig) -> bool:
    """Whether committed lineage covers every DAG stage, so a run has
    nothing to do."""
    return not any(
        _remaining(done_map.get(s, set()), cfg.num_buckets) for s in _dag_stages(cfg)
    )


def _retain_files(
    spark: SparkSession,
    io: TableIO,
    raw_df: DataFrame,
    raw_aug: DataFrame,
    cfg: PipelineConfig,
    table: str,
) -> tuple[dict, int] | None:
    """Iceberg DELETE-WHERE-shaped retention: whole files below the cutoff
    are dropped by footer stats, untouched files are ADOPTED by reference
    (metadata-only, zero copy), and only cutoff-straddling files are
    rewritten + integrity-verified. At 10^12 turns this is the difference
    between a metadata commit and rewriting the corpus.

    Returns the stage-level lineage stats (bucket -1) and the last snapshot
    version, or None (the caller falls back to the row-level rewrite) when
    the input is not PROVABLY a bare file scan: no input files; the
    optimized logical plan carries any node beyond the leaf relation (a
    Project / Filter — even row-count-preserving ones like a text rewrite —
    means adopted file bytes would silently diverge from raw_df's rows); the
    footer row total disagrees with count(); or the session timezone is not
    UTC (footer stats are normalized to naive UTC — classifying against a
    cutoff interpreted in another session zone would misclassify files near
    the boundary). Raises :class:`StageFailure` when the rewrite does not
    verify.
    """
    import datetime as _dt

    # Zero-I/O bare-scan proof: after optimization a pure parquet scan is
    # a single leaf LogicalRelation (select("*") folds away; ANY
    # transformation leaves a Project/Filter node). Only then are the
    # file bytes and raw_df's rows the same thing, which is what adoption
    # assumes. The row-count cross-check below stays as belt-and-braces.
    plan = raw_df._jdf.queryExecution().optimizedPlan()
    if plan.children().size() != 0 or "Relation" not in plan.nodeName():
        return None
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        return None
    files = [_strip_uri(f) for f in raw_df.inputFiles()]
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    stats = parquet_footer_stats(files)
    total_rows = sum(s["rows"] for s in stats)
    if raw_df.count() != total_rows:  # metadata-only count for bare scans
        return None
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
    rewritten_rows = 0
    version = 0
    if straddling:
        # raw_df is a bare scan of these files: its schema is theirs.
        src = spark.read.schema(raw_df.schema).parquet(*[s["path"] for s in straddling])
        sub = with_salt(with_value(src), cfg.num_buckets).filter(
            F.col("ts") >= F.lit(cfg.retention_cutoff)
        )
        version = io.append(
            sub.withColumn("_v", F.lit(io.snapshot_version(table) + 1)),
            table,
            meta={"stage": "retention", "rewrote": len(straddling)},
        )
        int_df, _ = io.read_parts(spark, table)
        # Full text-equality verify on the rewritten subset only — the
        # adopted files are the SAME bytes by construction and the dropped
        # files are proven below-cutoff by their footers. The same pass
        # counts the rewritten rows.
        ok, rewritten_rows = checksums_match(sub, _keep_last(io, table, int_df))
        if not ok:
            raise StageFailure(
                "rewritten-file text integrity check failed — raw NOT droppable"
            )
    if adopted:
        # The scan's schema rides in the manifest, so reads of the adopted
        # files plan without a schema-inference job.
        meta = {"stage": "retention", "dropped": len(dropped), "schema": raw_df.schema.json()}
        version = max(version, io.adopt([s["path"] for s in adopted], table, meta=meta))
    elif not straddling:
        # Everything dropped: commit an empty snapshot so the table reads.
        version = io.append(
            raw_aug.filter(F.lit(False)).withColumn("_v", F.lit(1)),
            table,
            meta={"stage": "retention", "dropped": len(dropped)},
        )
    row = {
        "bucket_id": -1,
        "output_rows": sum(s["rows"] for s in adopted) + rewritten_rows,
        "input_rows": total_rows,
    }
    return row, version


def _summary(
    io: TableIO,
    cfg: PipelineConfig,
    t_start: float,
    results: dict[str, tuple[int, float, bool]],
    phase_seconds: dict[str, float],
) -> dict:
    """``run_pipeline``'s summary from each stage's ``(buckets_run,
    seconds, integrity_ok)``. ``input_turns`` (deduped) comes from each
    bucket's latest ok tier_1m lineage row, read on the driver — no count
    barrier over norm, no Spark job."""
    latest: dict[int, tuple[int, int]] = {}
    for r in _ok_lineage(io, "stage", "bucket_id", "version", "input_rows"):
        if r["stage"] == "tier_1m":
            b = r["bucket_id"]
            latest[b] = max(latest.get(b, (-1, 0)), (r["version"], r["input_rows"]))
    input_turns = sum(n for _, n in latest.values())
    wall = time.time() - t_start
    return {
        "run_id": cfg.run_id,
        "input_turns": input_turns,
        "wall_seconds": wall,
        "turns_per_sec": input_turns / wall if wall > 0 else 0.0,
        "stages": {s: r[0] for s, r in results.items()},
        "stage_seconds": {s: r[1] for s, r in results.items()},
        "phase_seconds": phase_seconds,
        "integrity_ok": all(r[2] for r in results.values()),
    }


@keeps_job_description
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
    wave commits — used by the kill/resume idempotence tests; a name that is
    not a stage of this run raises ``ValueError`` before any Spark job.
    """
    cfg = cfg or PipelineConfig()
    stage_names = _dag_stages(cfg)  # checks cfg.gapfill_tiers before any job
    if fail_after_stage is not None and fail_after_stage not in stage_names:
        raise ValueError(
            f"fail_after_stage={fail_after_stage!r} names no stage of this run: "
            f"{stage_names}"
        )
    t_start = time.time()
    spark.sparkContext.setJobDescription("mpnsm:plan")
    done_map = load_lineage_map(io)
    if _lineage_covers(done_map, cfg):
        # A no-op re-run: nothing to plan, so no vocabulary scan. The stored
        # dictionaries are still checked (on the driver).
        reconcile_tool_vocab(io, [])
        return _summary(
            io,
            cfg,
            t_start,
            {s: (0, 0.0, True) for s in stage_names},
            {"plan_vocab": round(time.time() - t_start, 3), "stage_dag": 0.0},
        )
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

    stages = _stage_records(cfg, role_vocab, tool_vocab)
    tables = {st.name: st.table for st in stages}
    children: dict[str | None, list[DagStage]] = defaultdict(list)
    for st in stages:
        children[st.parent].append(st)
    # Small stage outputs coalesce to limit file count; raw copies keep full
    # write parallelism — capping them serializes the biggest I/O in the job.
    write_width = max(spark.sparkContext.defaultParallelism, 16)
    lock = threading.Lock()
    results: dict[str, tuple[int, float, bool]] = {}
    fresh_outputs: dict[str, DataFrame] = {}
    cached: list[DataFrame] = [norm] if multi_wave else []
    errors: list[BaseException] = []
    futs: list = []

    def source(st: DagStage) -> tuple[DataFrame, bool]:
        """(rows, clustered) of ``st``'s input, salted: the parent's cached
        fresh output when this run produced all its buckets (hash-partitioned
        by conv_id end-to-end — the single exchange), else its storage read
        with keep-last dedupe (resume path, NOT clustered), always in the
        STORED (mask-only) schema so every snapshot of a table is uniform."""
        if st.raw:
            return raw_aug, False
        if st.parent is None:
            return norm, True
        with lock:
            df = fresh_outputs.get(st.parent)
        if df is not None:
            return df.drop("_v"), True
        table = tables[st.parent]
        stored = _keep_last(io, table, io.read(spark, table)).drop("tools", "distinct_tools")
        return with_salt(stored, cfg.num_buckets), False

    def in_wave(wave):
        if len(wave) == cfg.num_buckets:  # single-wave run: no-op predicate
            return F.lit(True)
        return F.col("bucket_id").isin([int(b) for b in wave])

    def commit_lineage(
        stage: str, stats, wave: list[int], version: int, wall: float
    ) -> None:
        """Collect one commit's per-bucket stats (``stats()``; a wave's only
        lineage job, labelled apart from its stage's jobs) and commit its
        lineage rows on the driver; wave buckets with no rows get zeros.
        The end-of-run wait() drains these before the summary reads the
        table."""
        spark.sparkContext.setJobDescription("mpnsm:lineage")
        got = {r["bucket_id"]: r for r in stats()}
        rows = [got.get(b, {"bucket_id": b, "output_rows": 0}) for b in wave]
        io.append(
            _lineage_rows(cfg.run_id, stage, rows, wall, version, len(wave)),
            LINEAGE_TABLE,
        )

    def committed(st: DagStage, stats, wave: list[int], version: int, t0: float) -> None:
        """The one place a stage's data commit is recorded. Its lineage
        commits AFTER the data (a crash between them only re-runs the
        bucket) but OFF the critical path: dependents need the data, not the
        lineage row. Then the injected crash, if this is its stage."""
        submit(partial(commit_lineage, st.name, stats, wave, version, time.time() - t0))
        if fail_after_stage == st.name:
            raise StageFailure(f"injected failure after stage {st.name}")

    def run_stage(st: DagStage) -> tuple[int, float, bool]:
        """Run ``st`` over the buckets its lineage does not cover, one
        commit per wave: ``(buckets_run, seconds, integrity_ok)``."""
        # Label every job this stage submits (Spark UI / event-log / REST
        # attribution on real clusters; local properties are per-thread).
        spark.sparkContext.setJobDescription(f"mpnsm:{st.name}")
        t0 = time.time()
        done = done_map.get(st.name, set())
        remaining = _remaining(done, cfg.num_buckets)
        if not remaining:
            return 0, 0.0, True
        if st.raw and not done:
            # A partial row-level copy from a crashed run must be finished
            # at row level: adopting files now would duplicate its buckets.
            adopted = _retain_files(spark, io, raw_df, raw_aug, cfg, st.table)
            if adopted is not None:
                row, version = adopted
                committed(st, lambda: [row], [-1], version, t0)
                return 1, round(time.time() - t0, 3), True
        rows, clustered = source(st)
        has_children = bool(children[st.name])
        fresh: list[DataFrame] = []
        size = cfg.wave_size or len(remaining)
        for i in range(0, len(remaining), size):
            wave = remaining[i : i + size]
            out = with_salt(
                st.op(rows.filter(in_wave(wave)).drop("bucket_id"), clustered),
                cfg.num_buckets,
            ).withColumn("_v", F.lit(io.snapshot_version(st.table) + 1))
            # Cache ONLY outputs that children re-read. Leaf outputs are read
            # by nothing but the post-write stats aggregation — caching them
            # costs a columnar build of millions of rows (plus heap pressure)
            # for one scan; stats read the just-written snapshot back
            # instead (pruned).
            if has_children:
                out = out.cache()
                with lock:
                    cached.append(out)
            version = io.append(
                out if st.raw else out.coalesce(write_width),
                st.table,
                meta={"stage": st.name, "buckets": wave, "tool_vocab": tool_vocab},
            )
            stats_src = out
            if not has_children:
                try:
                    stats_src = io.read_snapshot(spark, st.table, version)
                except FileNotFoundError:  # empty snapshot (no part files)
                    pass
            stats = stats_src.groupBy("bucket_id").agg(
                F.count(F.lit(1)).alias("output_rows"),
                st.input_rows.alias("input_rows"),
                *st.stats,
            )
            committed(st, lambda s=stats: [r.asDict() for r in s.collect()], wave, version, t0)
            fresh.append(out)
        if has_children and not done:
            full = fresh[0]
            for f in fresh[1:]:
                full = full.unionByName(f)
            with lock:
                fresh_outputs[st.name] = full
        if st.raw and not verify_turn_integrity(spark, io, st.op(raw_aug, False)):
            raise StageFailure("per-turn text integrity check failed — raw NOT droppable")
        return len(remaining), round(time.time() - t0, 3), True

    def start(st: DagStage) -> None:
        """Run ``st``, then start its children: their input is committed."""
        result = run_stage(st)
        with lock:
            results[st.name] = result
        for child in children[st.name]:
            submit(partial(start, child))

    def guarded(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — propagated after join
            with lock:
                errors.append(e)

    def submit(fn):
        with lock:
            futs.append(ex.submit(guarded, fn))

    # The root (tier_1m) runs inline in the main thread — its raw scan
    # parallelizes across the cluster anyway; every other stage and every
    # lineage commit goes through the driver-thread pool.
    with ThreadPoolExecutor(max_workers=12) as ex:
        for root in children[None]:
            guarded(partial(start, root))
        while True:
            with lock:
                pending = [f for f in futs if not f.done()]
            if not pending:
                break
            wait(pending)

    for df in cached:
        df.unpersist()
    if errors:
        raise errors[0]
    return _summary(
        io,
        cfg,
        t_start,
        {st.name: results[st.name] for st in stages},
        {
            "plan_vocab": round(t_norm_done - t_start, 3),
            "stage_dag": round(time.time() - t_norm_done, 3),
        },
    )
