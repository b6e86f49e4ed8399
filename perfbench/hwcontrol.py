"""Same-window hardware control: two fixed burns on N worker processes.

The register-only burn bounds what pure compute can do on N cores right now;
the memory burn bounds streaming memory bandwidth. Both are recorded as run
metadata next to every benchmark run, so host weather shows beside each
number. They are never gated metrics.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import time

_MEM_WORDS = 4_000_000  # 32 MB of float64 per worker


def _burn_reg(_: int) -> float:
    x = 1.0
    for _ in range(2_000_000):
        x = x * 1.0000001 + 1e-9
    return x


def _burn_mem(_: int) -> float:
    import numpy as np

    a = np.ones(_MEM_WORDS)
    for _ in range(8):
        a *= 1.0000001
    return float(a[0])


def measure(procs: int, units_per_proc: int = 1) -> dict[str, float]:
    """Units per second of each burn over ``procs`` spawned workers."""
    out: dict[str, float] = {}
    ctx = mp.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        for name, burn in (("hw.reg_units_per_s", _burn_reg), ("hw.mem_units_per_s", _burn_mem)):
            pool.map(burn, range(procs), chunksize=1)  # warm every worker
            units = procs * units_per_proc
            t0 = time.perf_counter()
            pool.map(burn, range(units), chunksize=1)
            out[name] = units / (time.perf_counter() - t0)
    finally:
        pool.close()
        pool.join()
        # free the pool's semaphores while the tracker still runs; else it
        # reports them leaked and their own cleanup fails at exit
        pool.terminate()
        del pool
        gc.collect()
        # spawn starts a resource-tracker process too; stop it and wait for it
        tracker = mp.resource_tracker._resource_tracker
        if getattr(tracker, "_pid", None) is not None:
            tracker._stop()
    return out
