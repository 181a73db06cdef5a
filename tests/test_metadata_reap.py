"""Superseded metadata versions are reaped at expiry.

Every commit writes a new `vN.metadata.json` holding all retained snapshots;
`run_expire` removes each version whose successor is older than its grace
period, so `metadata/` holds the current version, v00001 (the existence
check of `Table.create`) and the hint, not one file per commit ever made. Checked on POSIX and on object-store semantics; the
REST-catalog case lives in tests/test_restcatalog.py.
"""

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import FakeObjectStoreFileIO, LocalFileIO, Table
from olake_spark.icelite.clone import snapshot_table
from olake_spark.icelite.export import _resolve_metadata_path
from olake_spark.icelite.table import metadata_version
from olake_spark.operators.expire import run_expire
from olake_spark.operators.merge import merge_into

IOS = {"local": LocalFileIO, "objectstore": FakeObjectStoreFileIO}


def version_files(t) -> list[str]:
    return sorted(
        n for n in os.listdir(os.path.join(t.root, "metadata"))
        if n.endswith(".metadata.json")
    )


def test_metadata_version_parses_only_plain_versions():
    assert metadata_version("v00001.metadata.json") == 1
    assert metadata_version("v7.metadata.json") == 7
    assert metadata_version("v100000.metadata.json") == 100000
    for name in ("v1.gz.metadata.json", "v.metadata.json", "version-hint.text",
                 "v00002.metadata.json.put-ab12", "v².metadata.json",
                 "00001.metadata.json"):
        assert metadata_version(name) is None, name


@pytest.mark.parametrize("kind", sorted(IOS))
def test_expire_leaves_two_versions_and_table_stays_usable(
    spark, tmp_table_dir, kind
):
    io = IOS[kind]()
    root = os.path.join(tmp_table_dir, "t")
    t = Table.create(spark, root, datagen.IMAGES_SCHEMA,
                     identifier_fields=("image_id",), io=io)
    df = datagen.gen_images_df(spark, 40)
    t.append(df.filter(F.col("image_id") < "img-000000000020"))
    mark_ms = int(time.time() * 1000)
    first = t.current_snapshot_id
    time.sleep(0.01)
    t.append(df.filter(F.col("image_id") >= "img-000000000020"))
    n_before = len(version_files(t))
    assert n_before == 3

    res = run_expire(t, keep_last=2, grace_seconds=0.0)
    assert res["snapshots_expired"] == 0
    assert res["metadata_versions_removed"] == n_before - 1
    # the expiry's own commit and v00001 are left, beside the hint
    meta = os.path.join(root, "metadata")
    assert {
        n for n in os.listdir(meta) if os.path.isfile(os.path.join(meta, n))
    } == {"v00001.metadata.json", f"v{n_before + 1:05d}.metadata.json",
          "version-hint.text"}

    u = Table.load(spark, root, io=IOS[kind]())
    assert u.snapshot_as_of(mark_ms)["snapshot_id"] == first
    assert u.scan().count() == 40
    u.append(datagen.gen_images_df(spark, 45).filter(
        F.col("image_id") >= "img-000000000040"))
    ch = (
        df.filter(F.col("image_id") < "img-000000000005")
        .withColumn("caption", F.lit("patched"))
        .withColumn("_op_type", F.lit("u"))
        .withColumn("_cdc_timestamp", F.lit(1))
    )
    merge_into(u, ch, keep_deletes=False)
    assert version_files(u)[-1] == f"v{n_before + 3:05d}.metadata.json"
    got = Table.load(spark, root, io=IOS[kind]()).scan()
    assert got.count() == 45
    assert got.filter(F.col("caption") == "patched").count() == 5


def test_reap_is_one_listing_and_one_delete(spark, tmp_table_dir):
    """The reap lists metadata/'s direct children only: manifests, stats
    and bloom files below it are neither listed nor touched."""
    io = FakeObjectStoreFileIO()
    t = Table.create(spark, os.path.join(tmp_table_dir, "t"),
                     datagen.IMAGES_SCHEMA, io=io)
    for i in range(4):
        t.add_columns([StructField(f"c{i}", StringType(), True)])
    nested = os.path.join(t.root, "metadata", "manifests", "v9.metadata.json")
    open(nested, "w").close()
    io.counts.clear()
    removed = t.remove_superseded_metadata(grace_seconds=0)
    assert removed == [f"metadata/v{v:05d}.metadata.json" for v in range(2, 5)]
    assert dict(io.counts) == {"list_files": 1, "remove_many": 1}
    assert version_files(t) == ["v00001.metadata.json", "v00005.metadata.json"]
    assert os.path.exists(nested)
    io.counts.clear()
    assert t.remove_superseded_metadata(grace_seconds=0) == []
    assert dict(io.counts) == {"list_files": 1}


@pytest.mark.parametrize("kind", sorted(IOS))
def test_create_at_reaped_root_still_refused(spark, tmp_table_dir, kind):
    """v00001 survives every reap: creating or cloning a table onto an
    existing root keeps failing after an expiry at grace 0."""
    root = os.path.join(tmp_table_dir, "t")
    t = Table.create(spark, root, datagen.IMAGES_SCHEMA, io=IOS[kind]())
    t.append(datagen.gen_images_df(spark, 10))
    t.add_columns([StructField("c", StringType(), True)])
    res = run_expire(t, keep_last=1, grace_seconds=0.0)
    assert res["metadata_versions_removed"] == 2
    assert version_files(t) == ["v00001.metadata.json", "v00004.metadata.json"]

    other = Table.create(spark, os.path.join(tmp_table_dir, "src"),
                         datagen.IMAGES_SCHEMA, io=IOS[kind]())
    with pytest.raises(FileExistsError):
        Table.create(spark, root, datagen.IMAGES_SCHEMA, io=IOS[kind]())
    with pytest.raises(FileExistsError):
        snapshot_table(other, root, io=IOS[kind]())
    u = Table.load(spark, root, io=IOS[kind]())
    assert u._version == 4 and "c" in u.schema.fieldNames()
    assert u.scan().count() == 10


def test_version_with_young_successor_survives_grace(spark, tmp_table_dir):
    t = Table.create(spark, os.path.join(tmp_table_dir, "t"),
                     datagen.IMAGES_SCHEMA)
    for i in range(3):
        t.add_columns([StructField(f"c{i}", StringType(), True)])
    meta = os.path.join(t.root, "metadata")
    old = time.time() - 7200
    for v in (1, 2, 3):
        os.utime(os.path.join(meta, f"v{v:05d}.metadata.json"), (old, old))
    # v2's successor is two hours old, v3's was written just now; v1 stays
    expect = ["metadata/v00002.metadata.json"]
    assert t.remove_superseded_metadata(3600, dry_run=True) == expect
    assert len(version_files(t)) == 4
    assert t.remove_superseded_metadata(3600) == expect
    assert version_files(t) == [
        "v00001.metadata.json", "v00003.metadata.json", "v00004.metadata.json"
    ]
    assert t.remove_superseded_metadata(3600) == []
    # run_expire threads its grace through: its own commit is young, so
    # the version it supersedes stays too
    res = run_expire(t, grace_seconds=3600)
    assert res["metadata_versions_removed"] == 0
    assert len(version_files(t)) == 4


def test_append_expire_cycles_keep_metadata_bounded(spark, tmp_table_dir):
    """The maintenance log appends on the driver: 20 append → expire
    cycles on its table leave at most two versions (v00001 and the
    current one), and every logged chunk is still found."""
    log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
    for i in range(20):
        log.log_done("job", "compact", {"chunk_id": f"c{i}"})
        run_expire(log.table, keep_last=1, grace_seconds=0.0)
        assert len(version_files(log.table)) <= 2
    assert log.done_chunk_ids("job") == {f"c{i}" for i in range(20)}
    assert MaintenanceLog(spark, log.root).done_chunk_ids("job") == {
        f"c{i}" for i in range(20)
    }


class _VanishOnce(LocalFileIO):
    """Before the first metadata read, another writer commits and an
    expiry reaps the version this reader just listed."""

    def __init__(self, racer):
        self.racer = racer
        self.lists = 0

    def list_dir(self, path):
        self.lists += 1
        return super().list_dir(path)

    def read_text(self, path):
        if self.racer is not None:
            racer, self.racer = self.racer, None
            racer.add_columns([StructField("late", StringType(), True)])
            racer.remove_superseded_metadata(grace_seconds=0)
        return super().read_text(path)


def test_refresh_relists_when_listed_version_vanishes(spark, tmp_table_dir):
    root = os.path.join(tmp_table_dir, "t")
    t = Table.create(spark, root, datagen.IMAGES_SCHEMA)
    t.add_columns([StructField("early", StringType(), True)])
    io = _VanishOnce(Table.load(spark, root))
    u = Table.load(spark, root, io=io)
    assert io.lists == 2
    assert u._version == 3
    assert {"early", "late"} <= set(u.schema.fieldNames())
    assert version_files(u) == ["v00001.metadata.json", "v00003.metadata.json"]


def test_gzip_metadata_stray_does_not_break_load(spark, tmp_table_dir):
    root = os.path.join(tmp_table_dir, "t")
    t = Table.create(spark, root, datagen.IMAGES_SCHEMA)
    for c in ("c", "d"):
        t.add_columns([StructField(c, StringType(), True)])
    stray = os.path.join(root, "metadata", "v1.gz.metadata.json")
    with open(stray, "wb") as f:
        f.write(b"\x1f\x8b not icelite metadata")
    u = Table.load(spark, root)
    assert u._version == 3 and "d" in u.schema.fieldNames()
    assert _resolve_metadata_path(root).endswith("v00003.metadata.json")
    assert u.remove_superseded_metadata(grace_seconds=0) == [
        "metadata/v00002.metadata.json"
    ]
    assert os.path.exists(stray)


def test_expire_with_log_bounds_the_log_metadata(spark, tmp_table_dir):
    """`run_expire(log=…)` expires the log table's snapshots and reaps its
    superseded metadata versions too: after 100 logged chunks the log keeps
    at most two versions, and every chunk id is still found."""
    t = Table.create(
        spark, os.path.join(tmp_table_dir, "t"),
        StructType([StructField("k", StringType(), True)]),
    )
    log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
    for i in range(100):
        log.log_done("job", "compact", {"chunk_id": f"c{i}"})
    assert len(version_files(log.table)) == 101
    run_expire(t, grace_seconds=0.0, job_id="exp", log=log)
    assert len(version_files(log.table)) <= 2
    assert len(log.table.snapshots()) == 1
    want = {f"c{i}" for i in range(100)}
    assert log.done_chunk_ids("job") == want
    assert MaintenanceLog(spark, log.root).done_chunk_ids("job") == want
    assert log.done_chunk_ids("exp") == {"expire-None"}  # t has no snapshot


def test_expire_with_log_folds_the_log(spark, tmp_table_dir):
    """`run_expire(log=…)` folds the log's one-file-per-append data and
    its own lineage row into one data file under one manifest before
    expiring it: after 100 logged chunks the log holds one of each, on
    disk too, and the same rows plus the expiry's."""
    t = Table.create(
        spark, os.path.join(tmp_table_dir, "t"),
        StructType([StructField("k", StringType(), True)]),
    )
    log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
    for i in range(100):
        log.log_done("job", "compact", {"chunk_id": f"c{i}"})
    cols = ["job_id", "op", "chunk_id", "status", "finished_at"]
    before = sorted(tuple(r) for r in log.metrics_df().select(*cols).collect())
    assert len(log.table.entries()) == len(log.table.snapshot()["manifests"]) == 100
    run_expire(t, grace_seconds=0.0, log=log, job_id="exp")

    def files(sub):
        return [f for _, _, fs in os.walk(os.path.join(log.root, sub)) for f in fs]

    assert len(log.table.entries()) == len(log.table.snapshot()["manifests"]) == 1
    assert len(files("data")) == len(files(os.path.join("metadata", "manifests"))) == 1
    after = sorted(tuple(r) for r in log.metrics_df().select(*cols).collect())
    assert [r for r in after if r[0] != "exp"] == before
    assert [r[:4] for r in after if r[0] == "exp"] == [
        ("exp", "expire", "expire-None", "done")
    ]
    assert len(log.table.snapshots()) == 1
    assert log.fold() == 0  # already one file
