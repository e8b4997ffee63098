"""The per-worker hook: zip archives are re-read only when they change.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
which on Python >= 3.10 makes every ``zipimporter`` re-read its archive's
central directory. ``init_python_worker`` installs a replacement that skips
archives unchanged since that importer last read them.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from mpnsm_spark.functions import arrowcfg
from mpnsm_spark.operators.skew import apply_per_series

PKG = "mpnsm_zip_probe_pkg"

needs_rescanning_zipimport = pytest.mark.skipif(
    not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimporter has no invalidate_caches before Python 3.10",
)


def _write_zip(path, value, pad=""):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", f"VALUE = {value!r}\n")
        z.writestr(f"{PKG}/sub/__init__.py", f"VALUE = {value!r}{pad}\n")


def _import_fresh():
    for name in (f"{PKG}.sub", PKG):
        sys.modules.pop(name, None)
    pkg = importlib.import_module(PKG)
    sub = importlib.import_module(f"{PKG}.sub")
    return pkg.VALUE, sub.VALUE


@needs_rescanning_zipimport
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    # register the current method so teardown restores it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in (f"{PKG}.sub", PKG):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert _import_fresh() == (1, 1)
    # one importer for the archive root, one for the package directory in it
    importers = [
        f for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and p.startswith(archive)
    ]
    assert len(importers) == 2

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    arrowcfg.skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is arrowcfg.invalidate_if_changed

    importlib.invalidate_caches()  # first call per importer still reads
    assert len(reads) == 2
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # a new module body and a new size: both importers must re-read
    _write_zip(archive, 2, pad="  # grown")
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert _import_fresh() == (2, 2)
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    for name in (f"{PKG}.sub", PKG):
        sys.modules.pop(name, None)
    for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[p]


def test_hook_installed_in_every_later_task(spark):
    """Worker-side: after one run, a second run's kernel sees the engine's
    replacement installed, on every row."""
    df = spark.range(40).selectExpr("cast(id % 8 as string) as conv_id", "id as turn_idx")

    def probe(g: pd.DataFrame) -> pd.DataFrame:
        import zipimport as zi

        from mpnsm_spark.functions import arrowcfg as cfg

        return pd.DataFrame(
            {
                "conv_id": [g["conv_id"].iloc[0]],
                "hooked": [zi.zipimporter.invalidate_caches is cfg.invalidate_if_changed],
            }
        )

    schema = "conv_id string, hooked boolean"
    apply_per_series(df, probe, schema).collect()
    rows = apply_per_series(df, probe, schema).collect()
    assert len(rows) == 8
    assert all(r["hooked"] for r in rows)
