"""PySpark worker daemon whose workers re-read a zip archive only when it changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to Python 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on the spot, and a reused worker holds 16 zip importers
(``pyspark.zip`` and its sub-packages, the py4j zip, the spark-core jar):
26,672 directory entries parsed before each task's function runs, about
0.2 s per task on a 4-core host. Here an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differ from the stat taken just before
its last read, so a rewritten zip is still picked up. Python 3.13's
``zipimport`` already defers the read, and there the wrapper is merely
redundant.

Run as ``python -m zipcache_daemon pyspark.worker``: it installs the
wrappers, then runs ``pyspark.daemon.manager()``, so every forked worker
inherits them. ``session.get_spark`` sets it as ``spark.python.daemon.module``
for local masters. It sits in a directory of its own, so putting it on the
workers' path makes no package importable there.
"""

from __future__ import annotations

import os
import zipimport

_zip_read_directory = zipimport._read_directory
_zip_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> its stat signature, taken just before its last read
_read_as: dict[str, tuple[int, int, int] | None] = {}


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def read_directory(archive: str):
    """``zipimport._read_directory`` that records the archive's signature."""
    sig = _signature(archive)
    files = _zip_read_directory(archive)
    _read_as[archive] = sig
    return files


def invalidate_caches(self) -> None:
    """Re-read the archive only when it changed since its last read."""
    files = zipimport._zip_directory_cache.get(self.archive)
    sig = _signature(self.archive)
    if files is not None and sig is not None and _read_as.get(self.archive) == sig:
        self._files = files  # another importer may have re-read it since
        return
    _zip_invalidate_caches(self)


def install() -> None:
    # the archives read on the way to this module were read moments ago,
    # in this process: sign them now
    for archive in zipimport._zip_directory_cache:
        _read_as.setdefault(archive, _signature(archive))
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
