"""Benchmark of the coltt_spark engine: one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run starts its own local Spark
session (``SPARK_GRAFT_CPUS`` = the cores this process may use), builds
its inputs from ``--seed``, measures the workload's timed phase, checks
every answer, and prints two JSON lines on stdout:

- a record of the run: its context (cores, Spark and Python versions,
  seed, sizes, set-up phases, host steal over the run), the
  workload's own metrics by name and unit (``search_p50_ms``,
  ``write_p50_ms``, ``ann_recall_at_10``, ``error_rate``, ...) and
  the raw latency samples;
- last, the result: ``correct``, ``attempted``, ``failed`` and
  ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
  per-layer metrics of a traced run, whose spans are written to
  ``.perfbench/out/``).

A traced ``ingest`` run ends with the registry pass of
``perfbench/pipeline.py``: 14 batch pipeline queries on tables
generated from the seed, each checked against its DuckDB oracle.

All scratch state (warehouse, block spool, Spark local dirs, temp
files, event log) lives under ``.perfbench/`` in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: heap of the local session's single JVM (driver and executors):
#: ample for the 50k-row collections, and far below the 24g default
DRIVER_MEM = "4g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def isolate(scratch: str, cpus: int) -> dict[str, str]:
    """Environment of this run and of the JVM and Python workers it
    starts: private spool, temp and Spark local dirs, and the checkout
    on ``PYTHONPATH`` so workers import ``coltt_spark`` from it."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "spool", "local", "events", "sql")}
    for d in dirs.values():
        os.makedirs(d)
    env = {
        "TMPDIR": dirs["tmp"],
        "COLTT_BLOCK_SPOOL": dirs["spool"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the short-lived launcher JVM would write its perf data to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return dirs


def start_spark(dirs: dict[str, str], trace: bool):
    from coltt_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": dirs["sql"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and, with it, the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(res) -> dict[str, dict]:
    from perfbench.workloads import median

    return {
        "setup_s": {"value": res.setup_s, "unit": "s"},
        "op_p50_ms": {"value": median(res.ops_ms), "unit": "ms"},
        "cycle_s": {"value": median(res.cycles_s), "unit": "s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "coltt_spark", "__init__.py")):
        print(f"perfbench: no coltt_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import numpy as np

    from perfbench import layers, pipeline, workloads
    from perfbench.tracing import NullTracer, Tracer

    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    steal0, total0 = cpu_times()
    res = workloads.Result()
    spark = None
    try:
        dirs = isolate(scratch, cpus)
        tracer = Tracer(dirs["events"], dirs["spool"]) if args.trace else NullTracer()
        t0 = time.perf_counter()
        spark = start_spark(dirs, bool(args.trace))
        tracer.install(spark)
        session_s = time.perf_counter() - t0
        rng = np.random.default_rng(args.seed)
        stats = workloads.WORKLOADS[args.workload](
            spark, tracer, rng, args.seconds, dirs["tmp"], res
        )
        res.setup_s += session_s
        if args.trace and args.workload == "ingest":
            pipeline.registry_pass(
                spark, tracer, np.random.default_rng(args.seed), dirs["tmp"], res
            )
        tracer.uninstall()
        spool_bytes = tracer.spool_bytes() if args.trace else 0
        context = {
            "cpus": cpus,
            "spark": spark.version,
            "python": platform.python_version(),
        }
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics = layers.per_layer(tracer, res, stats, spool_bytes, end_to_end(res))
            out = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(res)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    steal1, total1 = cpu_times()
    context.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "details": res.context,
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "samples": {"ops": len(res.ops_ms), "cycles": len(res.cycles_s)}
        | {k: len(v) for k, v in res.samples.items()},
    })
    record = {
        "context": context,
        "workload_metrics": layers.workload_metrics(res),
        "samples_ms": {"ops": res.ops_ms} | res.samples,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
