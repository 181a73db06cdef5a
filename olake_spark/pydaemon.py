"""PySpark worker daemon that stops every task from re-reading zip archives
and from re-scanning its own imports in every garbage collection.

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
within one mtime tick of the filesystem.

A reused worker also runs `gc.collect()` after every task
(`pyspark.daemon.manager`). Once its first task has imported
`pyspark.worker`, pandas and pyarrow, a worker tracks about 73k objects,
and each full collection walks all of them: 27-32 ms per task. The daemon
therefore runs each worker through `freezing_worker`, which calls
`gc.freeze()` before the worker's second task: the objects that survived
the first task move to the permanent generation, and later collections
scan only what each task allocates. Over 20 one-task `mapInPandas` jobs on
`local[4]` after a warm-up job, worker CPU fell from 0.81-0.88 s to
0.23-0.25 s (same box as above, two runs each). Python-UDF overhead of
this kind is the subject of *Accelerating Python UDFs in Vectorized Query
Execution* (CIDR'22). Importing this module changes nothing.
"""

from __future__ import annotations

import gc
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


def freezing_worker(worker):
    """Wrap `pyspark.daemon.worker` (one call per task of a forked worker)
    so the worker calls `gc.freeze()` before its second task: by then the
    stock loop has collected the first task's garbage, and what is left is
    the imports and caches every later task reuses."""
    tasks = 0

    def run(sock, authenticated):
        nonlocal tasks
        if tasks == 1:
            gc.freeze()
        tasks += 1
        return worker(sock, authenticated)

    return run


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
    # manager() looks `worker` up in its module globals at every fork
    daemon.worker = pydaemon.freezing_worker(daemon.worker)
    # read and stamp every archive the daemon has an importer for; forked
    # workers inherit the stamps and start with nothing to re-read
    importlib.invalidate_caches()
    daemon.manager()
