"""PySpark worker daemon that does not re-read zip archives per task.

``get_spark`` points ``spark.python.daemon.module`` here.  At the start
of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 every
``zipimport.zipimporter`` answers that by re-parsing its archive's whole
central directory in pure Python.  Workers import pyspark from
``pyspark.zip`` (1,328 entries), and a reused worker holds one
importer per pyspark sub-package it has imported, so a task paid 16
directory reads (about 0.25 CPU-s on a 4-vCPU x86 guest) before reading
its first row.

:class:`StatCheckedZipImporter` re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed.  It is installed in the daemon
before ``pyspark.daemon.manager()`` starts, so every forked and reused
worker inherits it.  New ``sys.path`` entries still get fresh
importers, and directory importers are untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> stamp it had when its shared directory entry was last read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` re-reads the archive
    only when its modification time or size changed."""

    def __init__(self, path):
        super().__init__(path)
        # the shared directory cache may predate a rewrite: check it
        self._stamp: tuple | None = ()  # matches no stamp
        self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp == self._stamp:
            return
        files = (zipimport._zip_directory_cache.get(self.archive)
                 if _read_stamps.get(self.archive, ()) == stamp else None)
        if files is None:
            super().invalidate_caches()
            _read_stamps[self.archive] = stamp
        else:  # another importer already read this version
            self._files = files
        self._stamp = stamp


def install() -> None:
    """Make :class:`StatCheckedZipImporter` the zip path hook and drop
    the plain zip importers already cached, so the next lookup of
    their path entries creates checked ones."""
    sys.path_hooks[:] = [
        StatCheckedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks]
    cache = sys.path_importer_cache
    for entry, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            del cache[entry]


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
