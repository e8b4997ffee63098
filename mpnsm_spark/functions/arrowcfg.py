"""Per-python-worker set-up, called first at every Python entry point.

Every mapInPandas/mapInArrow/applyInPandas kernel, pandas UDF and streaming
state function in this engine calls :func:`init_python_worker` before it does
anything else. The call is idempotent and costs nothing after the first
invocation in a worker. It has two duties:

1. **Tame pyarrow's thread pools.** pyarrow sizes its compute and IO pools
   from ``os.cpu_count()``, which IGNORES cgroup/affinity limits. On a pinned
   or containerized executor every python worker then spawns cpu_count
   threads: 16 workers x 32 threads on 16 actual CPUs is a context-switch
   storm that measured as a 10x+ blowup of the Gorilla encode stage at high
   core counts.
2. **Skip rescans of unchanged zip archives.** PySpark's worker calls
   ``importlib.invalidate_caches()`` before every task. On Python >= 3.10
   that makes each ``zipimporter`` re-read its archive's central directory:
   ``pyspark.zip`` (~1300 entries) once per imported subpackage, ~16 times
   per task, ~0.2 s of CPU before the task's own code starts. The
   replacement installed here re-reads an archive only when its
   ``(st_mtime_ns, st_size)`` differs from what THAT importer last read, so
   a reused worker pays the rescan once, not once per task. The signature is
   kept per importer, not per archive path: two importers on one zip each
   re-read it after a change, so neither keeps a stale listing.
"""

from __future__ import annotations

import os
import zipimport

import pyarrow as pa

_done = False
# The stdlib method (absent before Python 3.10, where nothing rescans).
_read_directory_anew = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _archive_signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    # Stat BEFORE reading: a write racing the read leaves the older
    # signature recorded, so the next call re-reads.
    sig = _archive_signature(self.archive)
    if sig is not None and self.__dict__.get("_read_signature") == sig:
        return
    _read_directory_anew(self)
    self._read_signature = sig


def skip_unchanged_zip_rescans() -> None:
    if _read_directory_anew is not None:
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed


def init_python_worker() -> None:
    global _done
    if _done:
        return
    _done = True
    skip_unchanged_zip_rescans()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
