"""Host-noise probes and the environment record.

The probes do fixed work and report how long it took.  They are recorded
next to the metrics at the start and end of every run so a reader can tell a
noisy host from a slow program; they never scale a metric.
"""

from __future__ import annotations

import os
import platform
import sys
import time

#: thread-count variables recorded as found; the benchmark sets none of them
THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def spin_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return time.perf_counter() - t0


def inverse_probe(count: int = 200, size: int = 100) -> float:
    """Seconds for a fixed batch of numpy ``size``×``size`` inverses."""
    import numpy as np

    rng = np.random.default_rng(0)
    mats = rng.random((count, size, size)) + size * np.eye(size)
    for m in mats[:20]:  # the first calls pay BLAS thread start-up
        np.linalg.inv(m)
    t0 = time.perf_counter()
    for m in mats:
        np.linalg.inv(m)
    return time.perf_counter() - t0


def probes() -> dict[str, float]:
    return {"spin_s": spin_probe(), "inv100_s": inverse_probe()}


def environment(spark, seed: int) -> dict:
    import numpy
    import pyarrow

    env = {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else None,
        "thread_vars": {k: os.environ.get(k) for k in THREAD_VARS},
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "seed": seed,
        "spark": spark.version,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }
    return env
