"""Fixed cost of a local Spark job, with and without Python tasks.

Every task that runs Python code (``mapInPandas``, ``pandas_udf``,
Python RDDs) is handed to a forked Python worker, which sets up the
task's files and import caches before its first row. This tool
separates that set-up from the JVM's own job cost. On a ``get_spark``
session it reports the median of 20 warm runs of:

- ``jvm_job_ms``: a pure-JVM 2-task job (``range(0, 2, 1, 2).collect()``);
- ``python_job_ms``: the same job through a 2-task identity
  ``mapInPandas``, built once before the clock starts, like the JVM
  job, so the two figures differ only in what runs;
- ``python_build_ms``: building that ``mapInPandas`` DataFrame alone
  (pickling the function, creating its JVM ``PythonFunction``, one
  analysis) — a cost a query pays per construction unless it reuses a
  built UDF;
- ``worker_invalidate_caches_ms``: ``importlib.invalidate_caches()``
  timed inside a worker (the slower of the two tasks), the call
  pyspark makes at the start of every Python task;
- ``transport``: ``"unix"`` or ``"tcp"``, the socket the Python workers
  reach the JVM over (``spark.python.unix.domain.socket.enabled``).

Usage: python tools/worker_floor.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 20
WARMUP = 3


def _identity(batches):
    yield from batches


def _time_invalidate_caches(batches):
    import importlib

    import pandas as pd

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"ms": [(time.perf_counter() - t0) * 1e3]})


def _median_ms(fn) -> float:
    for _ in range(WARMUP):
        fn()
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn()
        samples.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(samples)


def main() -> None:
    sys.path.insert(0, REPO)
    # workers import coltt_spark (and the session's worker daemon) from
    # the checkout, whatever directory this is run from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from coltt_spark import get_spark

    spark = get_spark(app_name="worker_floor")
    src = spark.range(0, 2, 1, 2)
    jvm = _median_ms(lambda: src.collect())
    py_df = src.mapInPandas(_identity, "id long")
    py = _median_ms(lambda: py_df.collect())
    build = _median_ms(lambda: src.mapInPandas(_identity, "id long"))
    timed = src.mapInPandas(_time_invalidate_caches, "ms double")
    for _ in range(WARMUP):
        timed.collect()
    inval = statistics.median(
        max(r.ms for r in timed.collect()) for _ in range(RUNS)
    )
    uds = spark.conf.get("spark.python.unix.domain.socket.enabled", "false")
    print(
        json.dumps(
            {
                "cores": spark.sparkContext.defaultParallelism,
                "transport": "unix" if uds.lower() == "true" else "tcp",
                "runs": RUNS,
                "jvm_job_ms": round(jvm, 1),
                "python_job_ms": round(py, 1),
                "python_build_ms": round(build, 1),
                "worker_invalidate_caches_ms": round(inval, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
