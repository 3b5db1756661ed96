"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the settings are chosen so the same
plans scale to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the few Pandas-UDF paths,
and shuffle partitions sized to the parallelism actually available
instead of the 200 default. Python workers reach the JVM over Unix
domain sockets, not loopback TCP.
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import stat
import tempfile

from pyspark.sql import SparkSession

#: longest socket path: Spark rejects a socket dir longer than 61
#: characters, so 61 + the socket name, below AF_UNIX's 107 bytes
_UDS_PATH_MAX = 104
#: pyspark and the JVM name their sockets ``<dir>/.<uuid4>.sock``
_UDS_NAME_BYTES = len("/." + "0" * 36 + ".sock")
_UDS_PREFIX = "coltt-uds-"


@functools.cache
def _socket_dir() -> str:
    """The process's directory for the session's Unix domain sockets.

    Those sockets skip Spark's auth secret, so the directory is
    owner-only (``mkdtemp`` makes it 0700). It is made under the temp
    dir when every socket path in it fits ``_UDS_PATH_MAX``, otherwise
    under ``/tmp``, and removed when the process exits. Its name
    carries the owner's pid, so the dirs of processes that died
    without exiting (SIGKILL skips ``atexit``) are swept here.
    """
    base = tempfile.gettempdir()
    prefix = f"{_UDS_PREFIX}{os.getpid()}-"
    # mkdtemp names the directory "<base>/<prefix><8 random chars>"
    longest = len(os.fsencode(base)) + 1 + len(prefix) + 8 + _UDS_NAME_BYTES
    parent = base if longest <= _UDS_PATH_MAX else "/tmp"
    _sweep_socket_dirs(parent)
    path = tempfile.mkdtemp(prefix=prefix, dir=parent)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _sweep_socket_dirs(parent: str) -> None:
    """Remove the socket dirs under ``parent`` that this user's
    processes made and outlived. A dir whose pid was since reused
    stays: the safe direction."""
    for name in os.listdir(parent):
        m = re.fullmatch(rf"{_UDS_PREFIX}([1-9][0-9]*)-\w{{8}}", name)
        if not m:
            continue
        path = os.path.join(parent, name)
        try:
            st = os.lstat(path)
            if st.st_uid == os.getuid() and stat.S_ISDIR(st.st_mode):
                os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except OSError:  # removed meanwhile, or alive under another uid
            pass


def get_spark(
    app_name: str = "coltt_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — in local mode more buckets
    than threads only adds task-scheduling overhead, and on a real
    cluster the caller sizes this to executors × cores.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch conversion in the
        # BLAS kernels (matmul efficiency grows with batch height)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode: driver heap IS the executor heap for all worker
        # threads. 8g leaves ~250 MB per concurrent task at local[32]
        # and OOMs a 32-task packed-index write at ~8M×64 vectors;
        # the test boxes have 128 GiB, so default generously
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # workers fork from a daemon whose zip importers skip the
        # per-task re-read of unchanged archives (coltt_spark/pydaemon.py)
        .config("spark.python.daemon.module", "coltt_spark.pydaemon")
        # Python workers (and the driver's result and accumulator
        # servers) talk to the JVM over Unix domain sockets: on loopback
        # TCP each Python task waited ~40 ms for its first Arrow batch
        # (Nagle's algorithm meeting a delayed ACK)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
