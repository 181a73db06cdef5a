"""PySpark worker daemon that stops every task from re-reading zip archives.

Before each task, a PySpark worker calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). On Python < 3.12 that makes
every `zipimport.zipimporter` re-read its archive's central directory
(CPython gh-103200, made lazy in 3.12). The worker path holds one importer
per imported package of `pyspark.zip`, plus py4j and the 5,359-entry
spark-core jar, so each task spends 0.13-0.20 s of CPU re-reading directories
before its UDF body starts (4-vCPU box, Python 3.11.7, Spark 4.1.2).

Run as `python -m olake_spark.pydaemon` (Spark's
`spark.python.daemon.module`), this module replaces
`zipimporter.invalidate_caches` with a version that skips the re-read while
the archive's `(st_ino, st_size, st_mtime_ns)` equals the stamp taken at its
last read, then runs the stock `pyspark.daemon.manager()`. Every worker is
forked from that daemon, so it has the patch before its first task. A
changed, replaced or deleted archive still goes through the stock method;
the one change it cannot see is an in-place rewrite to the same size
within one mtime tick of the filesystem. Importing this module changes
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) when its directory was read
_stamps: dict[str, tuple[int, int, int]] = {}
_stock = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, minus the re-read of an archive
    whose stamp has not moved since its directory was last read."""
    archive = self.archive
    # stat BEFORE the read: a write racing the read leaves an old stamp,
    # so the next call re-reads
    try:
        st = os.stat(archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stock(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Patch `zipimport` in this process. A no-op on Python >= 3.12, where
    `invalidate_caches` no longer reads the archive."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    # `-m` runs this file as __main__: patch with the importable module's
    # function, so a worker can tell where its invalidate_caches comes from
    from olake_spark import pydaemon
    from pyspark import daemon

    pydaemon.install()
    # read and stamp every archive the daemon has an importer for; forked
    # workers inherit the stamps and start with nothing to re-read
    importlib.invalidate_caches()
    daemon.manager()
