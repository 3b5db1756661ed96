"""Python worker daemon of the engine's Spark sessions.

pyspark starts every Python task (``mapInPandas``, ``pandas_udf``,
Python RDDs) with ``importlib.invalidate_caches()``. On CPython before
3.12 each ``zipimporter`` answers that by re-reading its archive's
whole central directory, and a warm worker holds ~16 of them (on
``pyspark.zip``, the py4j zip and the spark-core jar): ~0.2-0.3 s
before the task's first row. This daemon runs pyspark's own after
installing an importer that re-reads an archive only when its
(mtime, size) changed, so a rewritten or newly shipped archive still
refreshes.
``get_spark`` selects it with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive -> (st_mtime_ns, st_size) its directory in
#: ``zipimport._zip_directory_cache`` was read at; process-wide, like
#: that cache
_read_at: dict[str, tuple[int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatKeyedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` re-reads the archive
    only if its stat key moved since the shared directory was read; an
    unchanged archive adopts that directory (another importer of the
    same archive may have refreshed it). A missing archive empties the
    importer, exactly as the base class does."""

    def __init__(self, path):
        super().__init__(path)
        _read_at.setdefault(self.archive, _stat_key(self.archive))

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and key == _read_at.get(self.archive):
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
            return
        super().invalidate_caches()
        _read_at[self.archive] = key


def install() -> None:
    """Swap the zip path hook, and every importer it already cached,
    for :class:`StatKeyedZipImporter`."""
    sys.path_hooks[:] = [
        StatKeyedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[entry] = StatKeyedZipImporter(entry)


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
