"""The two workloads. Each one sets up its inputs, runs one measured
iteration at a time against the public API, checks what the iteration
produced, and turns traced iterations into per-layer metrics.

One client drives the load in a closed loop: the next call is made only
after the previous one returned. Checks run outside the timed spans.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from mpnsm_spark.plans.pipeline import (
    LINEAGE_TABLE,
    PipelineConfig,
    classify_files_for_retention,
    parquet_footer_stats,
    read_chunks,
    read_tier,
    run_pipeline,
)
from mpnsm_spark.sources.tableio import TableIO

from perfbench import datagen
from perfbench.probes import NullTracer, TimingTableIO, busy_seconds, jobs_between

MB = 1e6
PIPELINE_STAGES = (
    "plan", "tier_1m", "tier_1h", "tier_1d", "gapfill_1h", "gapfill_1d",
    "chunks_1m", "chunks_1h", "chunks_1d", "retention", "lineage",
)
TABLEIO_KEYS = (
    "append_calls", "append_s", "adopt_s", "read_s", "files_written", "mb_written",
)
MANAGER_KEYS = ("run_s", "forecasts_s", "jobs", "task_s", "gc_s", "shuffle_write_mb")
KERNEL_KEYS = (
    "python_cpu_s", "jvm_cpu_s", "python_share_proc", "python_share_task",
    "to_python_mb", "from_python_mb", "series", "error_series",
)
ENTRY_KEYS = ("build_s", "exec_s", "build_jobs", "exec_jobs", "task_s", "python_cpu_s")
# Driver-contract rows in the operator battery, for the outliers and config
# modules, which no other workload reaches. Both build eagerly, so they carry
# the build-time jobs the battery is for. Rollup, Gorilla and per-series
# kernel rows are left out: rollup_forecast measures those layers. More rows
# do not fit the benchmark's time budget (see README.md).
BATTERY_ROWS = ("outlier_dummies", "config_inherit")
BATTERY_TABLES = ("events", "documents", "embeddings", "customer", "nation", "region")


def layer_metric_names() -> list[str]:
    """Per-layer metrics of a traced run, as BENCHMARK.json lists them. Every
    workload emits all of them; a layer it does not reach reads 0."""
    names = [f"pipeline.{s}.{k}" for s in PIPELINE_STAGES for k in ("wall_s", "task_s", "jobs")]
    names += [f"pipeline.{k}" for k in (
        "cpu_s", "gc_s", "python_cpu_s", "shuffle_write_mb", "spill_mb", "rerun_jobs")]
    names += ["gorilla.bytes_per_point", "gorilla.chunks"]
    names += [f"tableio.{k}" for k in TABLEIO_KEYS]
    names += [f"manager.{k}" for k in MANAGER_KEYS]
    names += [f"kernel.{k}" for k in KERNEL_KEYS]
    names += [f"entry.{k}" for k in ENTRY_KEYS]
    names += [f"entry.{r}.{k}" for r in BATTERY_ROWS for k in ("build_s", "exec_s", "jobs")]
    names += ["trace.overhead_s", "host.steal_pct"]
    return names


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_mb") or leaf.startswith("mb_"):
        return "MB"
    if leaf.endswith("_s"):
        return "s"
    return {"bytes_per_point": "bytes/point", "python_share_proc": "ratio",
            "python_share_task": "ratio", "steal_pct": "%"}.get(leaf, "count")


_NULL = NullTracer()


def _median_of(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tiny: bool, tracer):
        self.spark, self.work, self.seed, self.tiny = spark, work, seed, tiny
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, tuple[float, str]] = {}
        # one tuple per traced iteration: the spans and counters layers() reads
        self.traced: list[tuple] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED [{self.name}] {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn) -> tuple[bool, object]:
        """Run one operation; an exception counts as a failed operation."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — counted in failed, traceback kept
            traceback.print_exc()
            return self.check(False, f"{what} raised"), None
        return self.check(True, what), out

    def spans(self, traced: bool):
        return self.tracer if traced else _NULL

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self, i: int, traced: bool) -> float | None:
        """One measured iteration; returns its wall seconds (None if it failed)."""
        raise NotImplementedError

    def finish(self) -> None:
        """Checks on the last iteration's output, after the timed loop."""

    def summarize(self) -> None:
        """Adds the workload's own metrics to ``report``."""
        raise NotImplementedError

    def layers(self, jobs: list, sampler) -> dict[str, float]:
        """Per-layer metrics: medians over the traced iterations."""
        raise NotImplementedError

    def _io(self, root: str, traced: bool) -> TableIO:
        return TimingTableIO(root) if traced else TableIO(root)


def _io_stats(ios: list) -> dict:
    out = {k: 0.0 for k in TABLEIO_KEYS}
    for io in ios:
        if isinstance(io, TimingTableIO):
            for k in ("append_calls", "append_s", "adopt_s", "read_s", "files_written"):
                out[k] += io.stats[k]
            out["mb_written"] += io.stats["bytes_written"] / MB
    return out


def _table_bytes(root: str, prefixes: tuple[str, ...]) -> int:
    total = 0
    for table in os.listdir(root):
        if table.startswith(prefixes):
            for dirpath, _, files in os.walk(os.path.join(root, table, "data")):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _sum_check(df, cols: list[str]):
    """(rows, order-insensitive exact checksum) of ``cols``."""
    r = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()[0]
    return r[0], r[1]


# ------------------------------------------------------------ rollup_forecast


def _cohort():
    return F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("string")


class RollupForecast(Workload):
    """The paper's two main paths in turn. Each iteration runs, timed apart:

    - write: a fresh durable ``run_pipeline`` with file-level retention, then
      a no-op re-run on the finished warehouse;
    - read: ``read_tier("1m")`` of that warehouse → durable ``run_manager``
      (fit_predict) → forecasts materialised."""

    name = "rollup_forecast"
    MIN_TRAIN = 8
    HORIZON, COHORT_HORIZON = 6, 4
    CONFIG = [
        {"unit": {}, "horizon": HORIZON,
         "targets": [{"target_col": "value_avg",
                      "model": {"forecaster": "trend_seasonal_ols"}}]},
        {"unit": {"cohort": "1"}, "horizon": COHORT_HORIZON},
    ]

    def setup(self) -> None:
        n_turns = 20_000 if self.tiny else 30_000
        self.input = os.path.join(self.work, "input")
        table = datagen.write_transcripts(self.input, n_turns, n_turns // 60, self.seed)
        self.turns = table.group_by(["conv_id", "turn_idx"]).aggregate([]).num_rows
        files = [os.path.join(self.input, f) for f in sorted(os.listdir(self.input))
                 if f.endswith(".parquet")]
        dropped, adopted, straddling = classify_files_for_retention(
            parquet_footer_stats(files),
            datetime.datetime.fromisoformat(datagen.RETENTION_CUTOFF).replace(
                tzinfo=datetime.timezone.utc),
        )
        self.check(bool(dropped and adopted and straddling),
                   f"retention must drop, adopt and rewrite input files: {len(dropped)} "
                   f"dropped, {len(adopted)} adopted, {len(straddling)} rewritten")
        self.fresh_s: list[float] = []
        self.rerun_s: list[float] = []
        self.forecast_s: list[float] = []
        self.last_roots: tuple[str, ...] = ()
        self.series = self.rows = self.checksum = None
        self.iteration(-1, traced=False)  # warm-up, checked but not timed
        self.fresh_s.clear()
        self.rerun_s.clear()
        self.forecast_s.clear()

    def _run(self, io):
        cfg = PipelineConfig(retention_cutoff=datagen.RETENTION_CUTOFF)
        return run_pipeline(self.spark, self.spark.read.parquet(self.input), io, cfg)

    def _flow(self, wh_io, out_io, trace: str, t):
        from mpnsm_spark.plans.manager import run_manager

        with t.span("plans.pipeline.read_tier", trace):
            tier = read_tier(self.spark, wh_io, "1m").withColumn("cohort", _cohort())
        with t.span("plans.manager.run_manager", trace) as run_span:
            res = run_manager(self.spark, tier, out_io, self.CONFIG,
                              group_columns=["cohort", "conv_id"],
                              order_col="bucket_start", min_train=self.MIN_TRAIN)
        with t.span("plans.manager.ManagerResult.forecasts", trace) as fc_span:
            fc = res.forecasts(self.spark, out_io)
            r = fc.agg(F.count(F.lit(1)), F.countDistinct("_unit_id"),
                       F.bit_xor(F.xxhash64("_unit_id", "step", "yhat"))).collect()[0]
        return res, tuple(r), run_span, fc_span

    def _expected_forecasts(self, io) -> tuple[int, int]:
        """(series, forecast rows): series with at least ``MIN_TRAIN`` 1m
        points, each forecast over its unit's horizon."""
        r = (read_tier(self.spark, io, "1m")
             .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= self.MIN_TRAIN)
             .agg(F.count(F.lit(1)),
                  F.sum(F.when(_cohort() == "1", self.COHORT_HORIZON)
                        .otherwise(self.HORIZON)))
             .collect()[0])
        return r[0], r[1]

    def iteration(self, i: int, traced: bool) -> float | None:
        wh, mgr = os.path.join(self.work, f"wh{i}"), os.path.join(self.work, f"mgr{i}")
        io, out_io = self._io(wh, traced), self._io(mgr, traced)
        trace, t = f"{self.name}/{i}", self.spans(traced)
        with t.span("iteration", trace) as it:
            t0 = time.perf_counter()
            with t.span("plans.pipeline.run_pipeline/fresh", trace) as fresh_span:
                ok1, fresh = self.attempt("fresh run_pipeline", lambda: self._run(io))
            t1 = time.perf_counter()
            with t.span("plans.pipeline.run_pipeline/rerun", trace) as rerun_span:
                ok2, rerun = self.attempt("re-run run_pipeline", lambda: self._run(io))
            t2 = time.perf_counter()
            with t.span("forecast", trace) as fc:
                ok3, got = (self.attempt("manager flow",
                                         lambda: self._flow(io, out_io, trace, t))
                            if ok1 else (False, None))
            t3 = time.perf_counter()
        if not (ok1 and ok2 and ok3):
            return None
        if self.series is None:
            self.series, self.rows = self._expected_forecasts(io)
        res, (rows, series, checksum), run_span, fc_span = got
        errors = sum(s["errored_series"] for s in res.stages)
        lineage_errors = (out_io.read(self.spark, LINEAGE_TABLE, merge_schema=True)
                          .filter(F.col("status") == "error").count())
        if self.checksum is None:
            self.checksum = checksum
        ok = self.check(fresh["integrity_ok"], "fresh run integrity_ok")
        ok &= self.check(fresh["input_turns"] == self.turns,
                         f"input_turns {fresh['input_turns']} != {self.turns}")
        ok &= self.check(not any(rerun["stages"].values()),
                         f"re-run redid stages {rerun['stages']}")
        ok &= self.check(rows == self.rows, f"forecast rows {rows} != {self.rows}")
        ok &= self.check(series == self.series, f"series {series} != {self.series}")
        ok &= self.check(errors == 0 and lineage_errors == 0,
                         f"{errors} errored series, {lineage_errors} error lineage rows")
        ok &= self.check(checksum == self.checksum, "yhat checksum changed between iterations")
        for root in self.last_roots:
            shutil.rmtree(root, ignore_errors=True)
        self.last_roots = (wh, mgr)
        if not ok:
            return None
        if traced:
            self.traced.append((fresh_span, rerun_span, fc, run_span, fc_span,
                                _io_stats([io, out_io]), errors))
        else:
            self.fresh_s.append(t1 - t0)
            self.rerun_s.append(t2 - t1)
            self.forecast_s.append(t3 - t2)
        return t3 - t0

    def finish(self) -> None:
        """Tier turn counts agree with the input, and the 1m chunks decode
        back to the stored 1m tier bit for bit."""
        from mpnsm_spark.operators.gorilla import decode_chunks

        io = TableIO(self.last_roots[0])
        tiers = [read_tier(self.spark, io, t).select(F.lit(t).alias("tier"), "turn_count")
                 for t in ("1m", "1h", "1d")]
        got = dict(tiers[0].unionByName(tiers[1]).unionByName(tiers[2])
                   .groupBy("tier").agg(F.sum("turn_count")).collect())
        sums = [got.get(t) for t in ("1m", "1h", "1d")]
        self.check(sums == [self.turns] * 3, f"tier turn_count sums {sums} != {self.turns}")
        tier = read_tier(self.spark, io, "1m").withColumn("v", F.col("value_avg"))
        decoded = decode_chunks(read_chunks(self.spark, io, "1m")).withColumn(
            "v", F.col("value"))
        a = _sum_check(tier, ["conv_id", "bucket_start", "v"])
        b = _sum_check(decoded, ["conv_id", "bucket_start", "v"])
        self.check(a == b, f"decode_chunks(1m) {b} != tier_1m {a}")
        if self.traced:  # the Gorilla layer is reported by traced runs only
            c1m, c1h, c1d = (read_chunks(self.spark, io, t) for t in ("1m", "1h", "1d"))
            n, pts, blob = c1m.unionByName(c1h).unionByName(c1d).agg(
                F.count(F.lit(1)), F.sum("n_points"),
                F.sum(F.length("ts_blob") + F.length("value_blob"))).collect()[0]
            self.gorilla = {"gorilla.bytes_per_point": blob / pts, "gorilla.chunks": n}
        stored = _table_bytes(self.last_roots[0], ("tier_", "gapfill_", "chunks_"))
        self.report["stored_bytes_per_turn"] = (stored / self.turns, "bytes/turn")

    def summarize(self) -> None:
        fresh, fc = statistics.median(self.fresh_s), statistics.median(self.forecast_s)
        self.report["pipeline_turns_per_s"] = (self.turns / fresh, "turns/s")
        self.report["rerun_s"] = (statistics.median(self.rerun_s), "s")
        self.report["forecast_series_per_s"] = (self.series / fc, "series/s")
        self.report["input_turns"] = (self.turns, "turns")
        self.report["forecast_rows"] = (self.rows, "rows")
        self.report["forecast_series"] = (self.series, "series")

    def layers(self, jobs, sampler) -> dict[str, float]:
        rows = []
        for fresh, rerun, fc, run_span, fc_span, io_stats, errors in self.traced:
            js = jobs_between(jobs, fresh.start, fresh.end)
            row = {}
            for s in PIPELINE_STAGES:
                mine = [j for j in js if j.desc == f"mpnsm:{s}"]
                row[f"pipeline.{s}.wall_s"] = busy_seconds(mine)
                row[f"pipeline.{s}.task_s"] = sum(j.run_s for j in mine)
                row[f"pipeline.{s}.jobs"] = len(mine)
            row["pipeline.cpu_s"] = sum(j.cpu_s for j in js)
            row["pipeline.gc_s"] = sum(j.gc_s for j in js)
            row["pipeline.python_cpu_s"] = sampler.cpu_between(fresh.start, fresh.end)[1]
            row["pipeline.shuffle_write_mb"] = sum(j.shuffle_write_b for j in js) / MB
            row["pipeline.spill_mb"] = sum(j.spill_b for j in js) / MB
            row["pipeline.rerun_jobs"] = len(jobs_between(jobs, rerun.start, rerun.end))

            js = jobs_between(jobs, fc.start, fc.end)
            jvm, py = sampler.cpu_between(fc.start, fc.end)
            task_s = sum(j.run_s for j in js)
            row.update({
                "manager.run_s": run_span.end - run_span.start,
                "manager.forecasts_s": fc_span.end - fc_span.start,
                "manager.jobs": len(js),
                "manager.task_s": task_s,
                "manager.gc_s": sum(j.gc_s for j in js),
                "manager.shuffle_write_mb": sum(j.shuffle_write_b for j in js) / MB,
                "kernel.python_cpu_s": py,
                "kernel.jvm_cpu_s": jvm,
                "kernel.python_share_proc": py / (py + jvm) if py + jvm else 0.0,
                "kernel.python_share_task": py / task_s if task_s else 0.0,
                "kernel.to_python_mb": sum(j.to_py_b for j in js) / MB,
                "kernel.from_python_mb": sum(j.from_py_b for j in js) / MB,
                "kernel.series": self.series,
                "kernel.error_series": errors,
            })
            row.update({f"tableio.{k}": v for k, v in io_stats.items()})
            rows.append(row)
        return {**_median_of(rows), **self.gorilla}


# ----------------------------------------------------------- operator_battery


class OperatorBattery(Workload):
    """Each iteration builds and executes the ``BATTERY_ROWS`` of
    ``__spark_entry__.queries()`` into the noop sink. Set-up compares every
    row's output with its DuckDB ``oracle_sql()``, which is the first, cold
    pass, then runs one untimed pass: pass times still fall by about a sixth
    from the second pass to the third."""

    name = "operator_battery"

    def setup(self) -> None:
        import __spark_entry__ as entry

        from perfbench import oracle

        self.sf = os.path.join(self.work, "sf")
        datagen.write_battery_tables(self.sf, self.seed)
        self.passes: list[float] = []

        queries, sqls = entry.queries(), entry.oracle_sql()
        self.rows = {r: queries[r] for r in BATTERY_ROWS}
        con = oracle.connect(self.sf, list(BATTERY_TABLES))
        for row, fn in self.rows.items():
            ok, pdf = self.attempt(row, lambda fn=fn: fn(self.spark, self.sf).toPandas())
            if ok:
                bad = oracle.mismatch(pdf, con, sqls.get(row))
                self.check(bad is None, f"{row} vs oracle: {bad}")
        con.close()
        self.iteration(-1, traced=False)  # warm-up, not timed
        self.passes.clear()

    def iteration(self, i: int, traced: bool) -> float | None:
        trace, t = f"{self.name}/{i}", self.spans(traced)
        spans = {}
        with t.span("iteration", trace) as it:
            t0 = time.perf_counter()
            for name, fn in self.rows.items():
                with t.span(f"entry.{name}/build", trace) as b:
                    ok, df = self.attempt(f"{name} build", lambda fn=fn: fn(self.spark, self.sf))
                if not ok:
                    continue
                with t.span(f"entry.{name}/exec", trace) as e:
                    ok, _ = self.attempt(f"{name} exec", lambda df=df: df.write.format("noop")
                                         .mode("overwrite").save())
                if ok:
                    spans[name] = (b, e)
            wall = time.perf_counter() - t0
        if len(spans) < len(self.rows):
            return None
        if traced:
            self.traced.append((it, spans))
        else:
            self.passes.append(wall)
        return wall

    def summarize(self) -> None:
        self.report["battery_s"] = (statistics.median(self.passes), "s")
        self.report["battery_rows"] = (len(BATTERY_ROWS), "rows")

    def layers(self, jobs, sampler) -> dict[str, float]:
        rows = []
        for it, spans in self.traced:
            row = {f"entry.{k}": 0.0 for k in ENTRY_KEYS}
            for name, (b, e) in spans.items():
                bj = jobs_between(jobs, b.start, b.end)
                ej = jobs_between(jobs, e.start, e.end)
                row[f"entry.{name}.build_s"] = b.end - b.start
                row[f"entry.{name}.exec_s"] = e.end - e.start
                row[f"entry.{name}.jobs"] = len(bj) + len(ej)
                row["entry.build_s"] += b.end - b.start
                row["entry.exec_s"] += e.end - e.start
                row["entry.build_jobs"] += len(bj)
                row["entry.exec_jobs"] += len(ej)
            row["entry.task_s"] = sum(j.run_s for j in jobs_between(jobs, it.start, it.end))
            row["entry.python_cpu_s"] = sampler.cpu_between(it.start, it.end)[1]
            rows.append(row)
        return _median_of(rows)


WORKLOADS = {w.name: w for w in (RollupForecast, OperatorBattery)}
