"""Run a geometry sweep's independent checks in worker processes.

The relate sweeps are pure-Python loops (minutes per test when run serially),
so the suite spreads their tasks over a `spawn` process pool (spawn, not
fork: the test process also hosts a Spark JVM) of SPARK_GRAFT_CPUS workers,
falling back to os.cpu_count(). Each task's result comes back in input order,
so a sweep's assertions see exactly what the serial loop produced.
"""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor


def sweep(check, items: list, *shared) -> list:
    """[check(item, *shared) for item in items], one task per item. `check`
    must be a module-level function (workers import it by name)."""
    n = len(items)
    workers = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    with ProcessPoolExecutor(
        max_workers=max(1, min(workers, n)),
        mp_context=multiprocessing.get_context("spawn"),
    ) as pool:
        return list(pool.map(check, items, *([s] * n for s in shared)))
