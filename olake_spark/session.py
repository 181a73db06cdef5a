"""SparkSession factory tuned for the maintenance engine.

Defaults target correctness tests on local[*]; the same knobs are what we'd
set on a 1000-executor cluster (AQE on, skew-join on, Arrow for pandas UDFs,
shuffle partitions sized to cores at test scale / to data at cluster scale).

Under a `local[...]` master the Python workers run `olake_spark.pydaemon`
instead of `pyspark.daemon`. On Python < 3.12 every task otherwise spends
0.13-0.20 s of CPU (4-vCPU box, Python 3.11.7, Spark 4.1.2) re-reading the
central directory of each zip on the worker path
(`importlib.invalidate_caches()` before each task, CPython gh-103200), and
a reused worker's per-task `gc.collect()` walks every object its imports
made (27-32 ms a task); the daemon freezes those before the second task. Only
local mode gets it: there the workers share the driver's filesystem, so
they can import the daemon from the directory that holds `olake_spark`,
which get_spark prepends to their PYTHONPATH. Executors that receive the
package through `--py-files` cannot import a daemon module, so on any other
master both settings are left alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _heap_gb(cpus: int) -> int:
    """4 GB per executor thread, floored at 8 GB, then capped at RAM/2 of the
    actual box — the cap is applied LAST so a small-RAM host never gets a
    default heap at or beyond physical memory."""
    ram_gb = 64
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    ram_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    return min(max(8, cpus * 4), max(2, ram_gb // 2))


def get_spark(
    app_name: str = "olake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    import re as _re

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    m = _re.fullmatch(r"local\[(\d+)\]", master)
    cpus = int(m.group(1)) if m else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        # At 10^12-row scale this is what turns a static plan into one that
        # survives hot phash prefixes (SURVEY.md §4 "Skew handling").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF (the only Python in hot paths).
        # 16384-row batches measurably beat 4096 on the rewrite path (fewer
        # worker round-trips; compact phase −5-8% wall at BOTH 2 and 8 cores
        # on the 400k profile) and stay memory-safe: a batch can never
        # exceed its task's split, which maxPartitionBytes caps at 32 MB.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("OLAKE_ARROW_BATCH", "16384"),
        )
        # Keep scheduler chatter down in local mode.
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every executor thread — size the
        # heap PER CORE (4g/thread), or per-task execution memory shrinks
        # linearly with parallelism, allocation rate outruns a constant heap,
        # and GC time shows up as fake anti-scaling. A real N→4N executor
        # fleet carries 4× the total heap; local-mode scaling runs must
        # reproduce that per-core parity to measure the engine. Capped at
        # half of PHYSICAL RAM so smaller boxes never swap-thrash.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{_heap_gb(cpus)}g"),
        )
        # Image `bytes` rows are fat: small parquet splits keep (a) per-task
        # memory bounded (the reference's RAM-scaled flush batches,
        # iceberg_utils.go:27-45) and (b) enough tasks per scan that
        # Python-stage phases (decode-verify, curve keys) cover every core —
        # at 128MB an 850MB table yields 8 tasks and idles half the cluster
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # dynamic-partition writes: concurrent writers instead of the
        # sort-based fallback — the sort path re-materializes every fat row
        # (~2-3x wall on binary-heavy tables)
        .config("spark.sql.maxConcurrentOutputFileWriters", "32")
    )
    # shuffle/spill storage: this sandbox's single virtual disk (~150 MB/s)
    # is the bottleneck for every shuffle; tmpfs stands in for the NVMe
    # local disks a real executor fleet would have
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    extra_conf = dict(extra_conf or {})
    if _re.fullmatch(r"local(\[[^\]]*\])?", master):
        # workers share this filesystem: start them from the zip-stamping
        # daemon (see the module docstring), and let them import the package
        # wherever the driver found it, even when PYTHONPATH does not say so
        paths = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        for v in (
            extra_conf.pop("spark.executorEnv.PYTHONPATH", ""),
            os.environ.get("PYTHONPATH", ""),
        ):
            paths += v.split(os.pathsep)
        b = b.config("spark.python.daemon.module", "olake_spark.pydaemon")
        b = b.config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(dict.fromkeys(p for p in paths if p)),
        )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
