"""get_spark's worker setup. Under a `local[...]` master the Python workers
start from `olake_spark.pydaemon` (no per-task zip re-read, and a reused
worker freezes its imports out of the per-task collection) and can import
the package wherever the driver found it; on any other master neither
setting is made."""

import os
import subprocess
import sys
import types
import zipfile

import pytest
from pyspark.sql import SparkSession

import olake_spark
from olake_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(olake_spark.__file__)))


@pytest.fixture()
def built_conf(monkeypatch):
    """Run get_spark without starting Spark; returns the options it set."""
    seen = {}

    def get_or_create(self):
        seen.clear()
        seen.update(self._options)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def test_local_master_sets_daemon_and_merged_pythonpath(built_conf, monkeypatch):
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/env/a", REPO]))
    get_spark(
        master="local[2]",
        extra_conf={"spark.executorEnv.PYTHONPATH": "/conf/b"},
    )
    assert built_conf["spark.python.daemon.module"] == "olake_spark.pydaemon"
    assert built_conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [REPO, "/conf/b", "/env/a"]
    )


def test_other_master_sets_neither(built_conf, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    get_spark(master="spark://example:7077")
    assert "spark.python.daemon.module" not in built_conf
    assert "spark.executorEnv.PYTHONPATH" not in built_conf


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="no patch on >= 3.12")
def test_worker_runs_the_shim(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "m string").collect()
    assert [r.m for r in got] == ["olake_spark.pydaemon"]


def test_reused_worker_freezes_gc_before_second_task(spark):
    def probe(batches):
        import gc
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "frozen": [gc.get_freeze_count()]}
        )

    df = spark.range(1, numPartitions=1)
    by_pid: dict[int, list[int]] = {}
    # idle workers are handed out oldest first: more jobs than workers
    # make every worker a reused one
    for _ in range(12):
        (r,) = df.mapInPandas(probe, "pid long, frozen long").collect()
        by_pid.setdefault(r.pid, []).append(r.frozen)
    # a worker's first report here may be its first task; every later one
    # comes from a reused worker, which has frozen its imports by then
    later = [f for reports in by_pid.values() for f in reports[1:]]
    assert later and all(f > 0 for f in later), by_pid


def test_add_py_file_zip_imports_in_task(spark, tmp_path):
    zp = tmp_path / "olk_pyfile_probe.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("olk_pyfile_probe.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zp))

    def probe(batches):
        import olk_pyfile_probe
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [olk_pyfile_probe.VALUE]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "v int").collect()
    assert [r.v for r in got] == [42]


_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from olake_spark import datagen
from olake_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
print("COUNT", datagen.gen_images_df(spark, 8, bench=True).count())
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """The repo is reachable only through the driver's sys.path, not
    through PYTHONPATH or the cwd; the workers still import the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=REPO)],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "COUNT 8" in out.stdout
