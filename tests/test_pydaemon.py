"""The session's Python worker daemon: archive importers that re-read a
zip only when it changed, so a Python task's start-up
``importlib.invalidate_caches()`` stops re-reading every archive on
the worker's path."""

from __future__ import annotations

import os
import zipfile
import zipimport

from coltt_spark.pydaemon import StatKeyedZipImporter


def _counting_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _worker_archive_reads(batches):
    import importlib as _importlib
    import zipimport as _zipimport

    import pandas as pd

    for _ in batches:
        pass
    reads = []
    real = _zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    _zipimport._read_directory = counted
    try:
        _importlib.invalidate_caches()
    finally:
        _zipimport._read_directory = real
    yield pd.DataFrame({"reads": [len(reads)]})


def test_worker_invalidate_caches_reads_no_archive(spark):
    """Inside a Python task, ``invalidate_caches()`` (which pyspark
    calls at the start of every task) re-reads no zip archive: the
    worker's archives are unchanged since its importers read them."""
    df = spark.range(0, 2, 1, 2).mapInPandas(_worker_archive_reads, "reads long")
    assert [r.reads for r in df.collect()] == [0, 0]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Unchanged archive: no re-read. Rewritten archive (the
    ``addPyFile`` case): re-read, and its new module resolves. Missing
    archive: the importer empties instead of raising."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    imp = StatKeyedZipImporter(archive)
    assert imp.find_spec("m1") is not None
    reads = _counting_reads(monkeypatch)

    imp.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["m1", "m2"])
    imp.invalidate_caches()
    assert reads == [archive]
    assert imp.find_spec("m2") is not None

    os.remove(archive)
    imp.invalidate_caches()
    assert imp.find_spec("m1") is None


def test_importers_of_one_archive_share_a_refresh(tmp_path, monkeypatch):
    """Two importers on one archive (its root and a package inside it,
    as a package's ``__path__`` creates): after a rewrite the first
    refresh re-reads it once and the second adopts that directory."""
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "")
    root = StatKeyedZipImporter(archive)
    sub = StatKeyedZipImporter(os.path.join(archive, "pkg"))
    reads = _counting_reads(monkeypatch)

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "")
        z.writestr("pkg/b.py", "")
    root.invalidate_caches()
    sub.invalidate_caches()
    assert reads == [archive]
    assert sub.find_spec("pkg.b") is not None
