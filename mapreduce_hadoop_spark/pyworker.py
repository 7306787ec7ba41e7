"""Python worker daemon: ``pyspark.daemon`` with zip directories read once.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On Python 3.11 that makes each
cached ``zipimporter`` re-read its archive's whole directory, and a worker
holds one per package directory it imported from ``pyspark.zip`` (16-18 in
this engine's tasks, 1,328 entries each): 0.1-0.4 s per task on a 4-core
host, more than most of the engine's Python kernels take.

Run as ``python -m mapreduce_hadoop_spark.pyworker`` (``session.DEFAULT_CONF``
names it as ``spark.python.daemon.module``), this module installs a
``zipimporter`` subclass in ``sys.path_hooks`` whose ``invalidate_caches``
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed or it
can no longer be stat'ed, then runs the stock daemon. Forked workers inherit
the hook, so an added or rewritten archive (``addPyFile``) still refreshes.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


# archive -> its stamp when zipimport's shared directory cache was last read
# for it. A new importer takes its directory from that cache, so it takes
# this stamp too (not a fresh stat), and a rewrite the cache has not seen
# yet still triggers a re-read.
_read_stamps: dict[str, tuple[int, int] | None] = {}


class StableZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that skips re-reading an unchanged archive."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _read_stamps.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = _read_stamps[self.archive] = stamp


def install() -> None:
    """Put ``StableZipImporter`` in place of ``zipimporter`` in
    ``sys.path_hooks`` and drop the plain zip finders already cached, so the
    next import through each path makes a stable one."""
    sys.path_hooks[:] = [
        StableZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
