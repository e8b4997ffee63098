"""``get_spark`` settings, and ``local_frame``: driver-side rows as an Arrow-backed
``LocalRelation``."""

import ast
import os
import pathlib
import subprocess
import sys

import pytest

from mpnsm_spark.operators.multimodal import MEDIA_SCHEMA
from mpnsm_spark.session import local_frame

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _node_names(df) -> list[str]:
    names, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


CASES = {
    "nulls": (
        [("a", 1, None, 2.5), (None, None, "x", None), ("c", 3, "y", -0.0)],
        "k string, n int, s string, v double",
    ),
    "binary": (
        [(1, "image", "image/png", 64, 80, None, b"\x00\xffpayload"),
         (2, "audio", None, None, None, 1500, b"")],
        MEDIA_SCHEMA,
    ),
    "empty": (
        [],
        "user_id bigint, bucket_start timestamp_ntz, n_events bigint, value_avg double",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_python_list_frame(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    names = _node_names(got)
    assert names == ["LocalRelation"], names
    want = spark.createDataFrame(rows, schema)
    assert "LogicalRDD" in _node_names(want)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_no_python_list_frames_outside_local_frame():
    """Every frame built from in-memory rows goes through ``local_frame``: a
    ``createDataFrame`` call anywhere else in ``mpnsm_spark/`` or
    ``__spark_entry__.py`` would plan Python tasks that run no engine code."""
    files = sorted((ROOT / "mpnsm_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn.name == "local_frame":
                # the one allowed call: drop its body from the scan
                fn.body = []
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []


def _compiled_classes(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_run_compiles_no_new_classes(spark, tmp_path):
    """The generated-class cache holds a whole pipeline → read_tier →
    run_manager flow: running it again on a fresh warehouse compiles
    nothing. With Spark's default 100 entries the flow's classes evict one
    another and the second run recompiles most of them."""
    from pyspark.sql import functions as F

    from mpnsm_spark.generator import generate_transcripts, with_value
    from mpnsm_spark.plans.manager import run_manager
    from mpnsm_spark.plans.pipeline import PipelineConfig, read_tier, run_pipeline
    from mpnsm_spark.sources.tableio import TableIO

    src = str(tmp_path / "raw")
    raw = with_value(generate_transcripts(spark, n_convs=20, n_turns=2000, seed=4))
    raw.repartitionByRange(4, "ts").write.parquet(src)
    cutoff = raw.agg(F.percentile_approx("ts", 0.5)).first()[0].isoformat(" ")
    config = [
        {"unit": {}, "horizon": 6, "targets": [{"target_col": "value_avg"}]},
        {"unit": {"cohort": "1"}, "horizon": 4},
    ]

    def flow(i: int) -> None:
        cfg = PipelineConfig(num_buckets=4, retention_cutoff=cutoff)
        io = TableIO(str(tmp_path / f"wh{i}"))
        run_pipeline(spark, spark.read.parquet(src), io, cfg)
        run_pipeline(spark, spark.read.parquet(src), io, cfg)
        cohort = F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("string")
        tier = read_tier(spark, io, "1m").withColumn("cohort", cohort)
        out = TableIO(str(tmp_path / f"mgr{i}"))
        res = run_manager(spark, tier, out, config, ["cohort", "conv_id"],
                          order_col="bucket_start", cfg=cfg)
        res.forecasts(spark, out).agg(F.count(F.lit(1))).collect()

    flow(0)
    before = _compiled_classes(spark)
    flow(1)
    assert _compiled_classes(spark) - before == 0


def test_get_spark_turns_off_column_call_site_capture(spark):
    """``get_spark`` sets PySpark's per-Column call-site capture off by
    default, and a caller's ``extra_conf`` can turn it back on. The setting
    is static, so the override needs a session of its own (a subprocess)."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    code = (
        "from mpnsm_spark.session import get_spark\n"
        f"s = get_spark('override', cores=1, extra_conf={{{key!r}: 'true'}})\n"
        f"print('conf=' + s.conf.get({key!r}))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True,
        text=True, timeout=300, check=True,
    ).stdout
    assert "conf=true" in out.splitlines(), out
