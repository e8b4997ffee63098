"""Measurement and tracing helpers for the benchmark.

Everything here observes the engine from outside: spans around the calls the
benchmark makes, a timing subclass of ``TableIO``, a ``/proc`` sampler for
CPU and resident memory, and a parser for Spark's JSON event log. Nothing in
``mpnsm_spark`` is modified.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from mpnsm_spark.sources.tableio import TableIO

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans. Spans are opened only from the benchmark's main
    thread, so a stack gives each span its parent."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, trace: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, trace, parent, time.time()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(s.end - s.start - covered)
        return out

    def self_time_gap(self) -> float:
        """Largest |sum of self times in a trace - wall of its root span|."""
        st = self.self_times()
        worst = 0.0
        for root in (s for s in self.spans if s.parent is None):
            total = sum(t for t, s in zip(st, self.spans) if s.trace == root.trace)
            worst = max(worst, abs(total - (root.end - root.start)))
        return worst

    def dump(self, path: str) -> None:
        st = self.self_times()
        rows = [
            {
                "id": i,
                "name": s.name,
                "trace": s.trace,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": st[i],
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


class NullTracer:
    """Tracing off: spans cost one ``nullcontext``."""

    def span(self, name: str, trace: str):
        return contextlib.nullcontext()


# ------------------------------------------------------------------- TableIO


class TimingTableIO(TableIO):
    """``TableIO`` that counts and times its public calls.

    Calls come from the pipeline's stage threads, so counters are guarded by
    a lock and times are summed busy time (concurrent calls overlap). A
    thread-local depth keeps nested public calls (``read`` → ``read_parts``)
    from being counted twice."""

    def __init__(self, root: str):
        super().__init__(root)
        self.stats = {
            "append_calls": 0,
            "append_s": 0.0,
            "adopt_s": 0.0,
            "read_s": 0.0,
            "files_written": 0,
            "bytes_written": 0,
        }
        self._stats_lock = threading.Lock()
        self._depth = threading.local()

    @contextlib.contextmanager
    def _timed(self, key: str):
        depth = getattr(self._depth, "n", 0)
        self._depth.n = depth + 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._depth.n = depth
            if depth == 0:
                with self._stats_lock:
                    self.stats[key] += time.perf_counter() - t0

    def append(self, df, table, meta=None, partition_by=None):
        with self._timed("append_s"):
            version = super().append(df, table, meta=meta, partition_by=partition_by)
        with open(os.path.join(self._mdir(table), f"v{version}.json")) as fh:
            files = json.load(fh)["files"]
        ddir = self._ddir(table)
        size = sum(os.path.getsize(os.path.join(ddir, f)) for f in files)
        with self._stats_lock:
            self.stats["append_calls"] += 1
            self.stats["files_written"] += len(files)
            self.stats["bytes_written"] += size
        return version

    def adopt(self, files, table, meta=None):
        with self._timed("adopt_s"):
            return super().adopt(files, table, meta=meta)

    def read(self, spark, table, merge_schema=False):
        with self._timed("read_s"):
            return super().read(spark, table, merge_schema=merge_schema)

    def read_parts(self, spark, table):
        with self._timed("read_s"):
            return super().read_parts(spark, table)

    def read_snapshot(self, spark, table, version):
        with self._timed("read_s"):
            return super().read_snapshot(spark, table, version)


# --------------------------------------------------------------- /proc sampler


def proc_table() -> dict[int, tuple[str, int, int, int]]:
    """pid → (comm, ppid, cpu ticks, rss bytes) for every visible process."""
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm is parenthesised and may contain spaces
        lo, hi = raw.find("("), raw.rfind(")")
        rest = raw[hi + 2 :].split()
        pid = int(raw[: lo - 1])
        out[pid] = (raw[lo + 1 : hi], int(rest[1]), int(rest[11]) + int(rest[12]),
                    int(rest[21]) * PAGE)
    return out


def descendants(table: dict) -> list[int]:
    """Pids below this process in a ``proc_table()`` snapshot."""
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class ProcSampler:
    """Samples this process's descendants: the driver JVM (``java``) and the
    Python workers it forks. Keeps a timeline of cumulative CPU seconds per
    class (ticks of exited workers are kept) and the peak of summed RSS."""

    def __init__(self, interval: float):
        self.interval = interval
        self.samples: list[tuple[float, float, float]] = []  # (t, jvm_s, py_s)
        self.peak_rss = 0
        self._rss_window = False
        self._last: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def measure_rss(self, on: bool) -> None:
        """Peak RSS is taken only while the measured window is open."""
        if on:
            self.peak_rss = 0
        self._rss_window = on

    def _sample(self) -> None:
        table = proc_table()
        rss = 0
        for p in descendants(table):
            comm, _, ticks, r = table[p]
            if comm == "java" or comm.startswith("python"):
                self._last[p] = ("jvm" if comm == "java" else "py", ticks)
                rss += r
        jvm = sum(t for c, t in self._last.values() if c == "jvm") / CLK_TCK
        py = sum(t for c, t in self._last.values() if c == "py") / CLK_TCK
        self.samples.append((time.time(), jvm, py))
        if self._rss_window:
            self.peak_rss = max(self.peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def cpu_between(self, t0: float, t1: float) -> tuple[float, float]:
        """(jvm_cpu_s, python_cpu_s) accrued between two wall-clock times."""

        def at(t):
            best = self.samples[0]
            for s in self.samples:
                if s[0] > t:
                    break
                best = s
            return best

        a, b = at(t0), at(t1)
        return b[1] - a[1], b[2] - a[2]


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ----------------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Job:
    id: int
    desc: str
    start: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    to_py_b: int = 0
    from_py_b: int = 0


def parse_event_log(evdir: str) -> list[Job]:
    """Jobs with their task totals, from an uncompressed Spark event log.
    A task is charged to the first job that listed its stage."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for path in sorted(glob.glob(os.path.join(evdir, "*"))):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.job.description") or "",
                            ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"])
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        m = ev.get("Task Metrics") or {}
        if job is None or not m:
            continue
        job.run_s += m.get("Executor Run Time", 0) / 1e3
        job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.gc_s += m.get("JVM GC Time", 0) / 1e3
        job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.spill_b += m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name")
            if name == _PY_SENT:
                job.to_py_b += int(acc.get("Update") or 0)
            elif name == _PY_RECV:
                job.from_py_b += int(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def jobs_between(jobs: list[Job], t0: float, t1: float) -> list[Job]:
    """Jobs submitted inside a span's wall-clock window."""
    return [j for j in jobs if t0 <= j.start <= t1]


def busy_seconds(jobs: list[Job]) -> float:
    """Wall time covered by the union of the jobs' [submit, complete] spans."""
    total, cur_end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.start):
        lo, hi = max(j.start, cur_end), j.end
        if hi > lo:
            total += hi - lo
            cur_end = hi
    return total
