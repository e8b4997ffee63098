"""Host capacity gate for the timing scripts (``bench.py``, ``bench_extra.py``).

On a shared, burst-credit-throttled VM identical work swings 2-3x from
minute to minute, with or without visible hypervisor steal (host-regime
study, BASELINE.md). A timed pass therefore starts only once the host
delivers near its session-max capacity on a fixed amount of CPU work:
:func:`wait_quiet` waits for a steal-quiet window, :func:`capacity_quick`
samples fixed-work throughput at ``n`` pinned processes, and :func:`gate`
loops the two until the sample reaches ``frac`` of the session max.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time


def wait_quiet(max_wait_s: float = 900.0, window_s: float = 5.0,
               threshold_pct: float = 0.5, consecutive: int = 2) -> float:
    """Block until hypervisor steal stays under ``threshold_pct`` for
    ``consecutive`` windows (or ``max_wait_s`` elapses). Returns the last
    observed steal%. Measurements launched into steal bursts are garbage —
    gate on a quiet window instead of discarding runs after the fact."""

    def read():
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = list(map(int, parts[1:]))
        return sum(vals), vals[7] if len(vals) > 7 else 0

    t0 = time.time()
    ok_windows = 0
    last = 100.0
    prev_tot, prev_st = read()
    while time.time() - t0 < max_wait_s:
        time.sleep(window_s)
        tot, st = read()
        last = 100.0 * (st - prev_st) / max(tot - prev_tot, 1)
        prev_tot, prev_st = tot, st
        ok_windows = ok_windows + 1 if last < threshold_pct else 0
        if ok_windows >= consecutive:
            return last
    print(f"wait_quiet: timed out after {max_wait_s}s (steal {last:.1f}%)", flush=True)
    return last


def _burn_fixed(work: int) -> int:
    import hashlib

    h = b"x" * 64
    for _ in range(work):
        h = hashlib.sha256(h).digest()
    return 0


def capacity_quick(n: int, work: int = 600_000) -> float:
    """~2-3s fixed-work capacity sample at n pinned processes (hashes/sec).
    Used to CERTIFY a measurement window: on a real cluster 4x executors is
    4x capacity by construction; on this shared microVM the host sometimes
    runs multi-minute half-speed regimes where even embarrassingly parallel
    fixed work gets <3x from 4x cores — an engine measured there is gated by
    the box, not its own scaling. Pairs are only accepted when the quick
    probe shows the box currently delivering near-linear CPU capacity."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    cpus = set(range(min(n, os.cpu_count() or n)))
    with ctx.Pool(
        len(cpus), initializer=os.sched_setaffinity, initargs=(0, cpus)
    ) as p:
        t0 = time.time()
        p.map(_burn_fixed, [work] * n)
        wall = time.time() - t0
    return n * work / wall


def gate(n: int, ref: dict, frac: float, max_wait_s: float,
         settle_s: float) -> tuple[float, bool]:
    """Block until absolute n-proc capacity recovers to >= ``frac`` x the
    session max kept in ``ref["max"]``, or ``max_wait_s`` elapses. Returns
    ``(ratio, certified)``: the last capacity ratio and whether it reached
    ``frac``. Diagnostics go to stderr so a caller's stdout stays its JSON
    line."""
    deadline = time.time() + max_wait_s
    while True:
        with contextlib.redirect_stdout(sys.stderr):
            wait_quiet(max_wait_s=60, consecutive=1)
            cap = capacity_quick(n)
        ref["max"] = max(ref.get("max", 0.0), cap)
        ratio = cap / ref["max"]
        print(f"gate n={n}: cap={cap:,.0f} ratio={ratio:.3f} (need {frac})",
              file=sys.stderr, flush=True)
        if ratio >= frac:
            return ratio, True
        if time.time() > deadline:
            return ratio, False
        time.sleep(settle_s)
