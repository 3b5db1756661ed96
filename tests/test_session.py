"""The session's Python transport: workers reach the JVM over Unix
domain sockets in an owner-only directory whose socket paths fit
AF_UNIX's limit, whatever the temp dir."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_transport(batches):
    import os as _os

    import pandas as pd

    for _ in batches:
        pass
    yield pd.DataFrame({"uds": [_os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()]})


def test_python_tasks_use_unix_domain_sockets(spark):
    df = spark.range(0, 2, 1, 2).mapInPandas(_worker_transport, "uds string")
    assert [r.uds for r in df.collect()] == ["true", "true"]


def test_socket_dir_is_owner_only(spark):
    """UDS endpoints skip Spark's auth secret: the directory holding
    them is the access control, so it must be 0700."""
    path = spark.sparkContext._accumulatorServer.server_address
    assert isinstance(path, str)
    sock_dir = os.path.dirname(path)
    assert sock_dir == spark.conf.get("spark.python.unix.domain.socket.dir")
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700


_LONG_TMPDIR_SESSION = textwrap.dedent(
    """
    import json, os, sys
    from coltt_spark import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="long_tmpdir", cpus=1,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
    )

    def ids(batches):
        yield from batches

    rows = spark.range(0, 3, 1, 1).mapInPandas(ids, "id long").collect()
    sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
    print(json.dumps({
        "ids": [r.id for r in rows],
        "dir": sock_dir,
        "longest": max(len(os.path.join(sock_dir, n)) for n in os.listdir(sock_dir)),
    }))
    spark.stop()
    """
)


def test_session_with_long_tmpdir_runs_python_tasks(tmp_path):
    """Socket paths are ``<dir>/.<uuid>.sock``; under a ~100-char temp
    dir (Python's and the JVM's) they would pass AF_UNIX's 107-byte
    limit and session start-up would fail. The session's socket dir
    is placed where they fit, and removed when the process exits."""
    import json

    long_tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    env = dict(
        os.environ,
        TMPDIR=str(long_tmp),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR_SESSION],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ids"] == [0, 1, 2]
    assert out["longest"] <= 107
    assert not os.path.exists(out["dir"])


def test_socket_dir_fits_sparks_dir_limit(monkeypatch):
    """Spark rejects a socket dir longer than 61 characters, below what
    AF_UNIX allows: a temp dir that would put this process's socket dir
    at 62 characters is passed over."""
    import shutil
    import tempfile

    from coltt_spark.session import _socket_dir

    base = tempfile.mkdtemp(dir="/tmp")
    try:
        # "<tmp>/coltt-uds-<pid>-<8 chars>" is 62 characters long
        tmp = os.path.join(base, "t" * (41 - len(str(os.getpid())) - len(base)))
        os.mkdir(tmp)
        monkeypatch.setattr(tempfile, "tempdir", tmp)
        path = _socket_dir.__wrapped__()
        shutil.rmtree(path)
        assert len(path) <= 61
    finally:
        shutil.rmtree(base, ignore_errors=True)


_SWEEP_SESSION_DIRS = textwrap.dedent(
    """
    import json, os
    from coltt_spark.session import _socket_dir

    print(json.dumps({"dir": _socket_dir(), "pid": os.getpid()}))
    """
)


def test_socket_dirs_of_dead_processes_are_swept(tmp_path):
    """The socket dir is named after its owner's pid. A process killed
    before its ``atexit`` leaves the dir behind; the next session
    removes it, and keeps the dir of a process still alive."""
    import json
    import tempfile

    # a short temp dir, so the socket dir is made (and swept) inside it
    with tempfile.TemporaryDirectory(dir="/tmp") as tmp:
        exited = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                                capture_output=True, text=True, check=True)
        dead = os.path.join(tmp, f"coltt-uds-{int(exited.stdout)}-deadbeef")
        alive = os.path.join(tmp, f"coltt-uds-{os.getpid()}-stillrun")
        unrelated = os.path.join(tmp, "coltt-uds-notapid")
        for d in (dead, alive, unrelated):
            os.mkdir(d)
        env = dict(
            os.environ,
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        )
        proc = subprocess.run(
            [sys.executable, "-c", _SWEEP_SESSION_DIRS],
            env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        made = out["dir"]
        assert os.path.dirname(made) == tmp
        assert os.path.basename(made).startswith(f"coltt-uds-{out['pid']}-")
        assert not os.path.exists(dead)
        assert os.path.isdir(alive) and os.path.isdir(unrelated)
        assert not os.path.exists(made)  # removed when its process exited
