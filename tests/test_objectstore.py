"""Object-store FileIO realism (round-2 verdict item #1).

FakeObjectStoreFileIO breaks every POSIX assumption — rename is copy+delete,
no hard links, conditional-put commit CAS, injectable mid-promote faults —
and the engine must hold all its guarantees on top of it, the way the
reference holds them on S3FileIO (iceberg_utils.go:197-260). Also pins the
bounded-driver-work contract: promotes and orphan reaps issue O(1) FileIO
calls (rename_many / remove_many), never per-file loops.

The FULL suite runs under these semantics via `OLAKE_FILEIO=objectstore
python -m pytest tests/` (default FileIO switch in icelite.fileio.default_io).
"""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import (FakeObjectStoreFileIO, FaultInjected,
                                 PartitionField, PartitionSpec, Table)
from olake_spark.icelite.table import DATA
from olake_spark.operators.cluster import run_cluster_rewrite
from olake_spark.operators.compact import run_compaction
from olake_spark.operators.merge import merge_into
from olake_spark.sync import backfill
from olake_spark.verify import row_sets_equal

N = 300
TARGET = 2 * 1024 * 1024


def _mk_table(spark, root, io, n=N, n_files=30):
    t = Table.create(
        spark,
        root,
        datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 2),)),
        identifier_fields=("image_id",),
        properties={"write.target-file-size-bytes": str(TARGET)},
        io=io,
    )
    datagen.fragmented_append(t, datagen.gen_images_df(spark, n), n, n_files=n_files)
    return t


def data_files(t):
    return [e for e in t.entries() if e.content == DATA]


class TestObjectStoreFlow:
    def test_full_maintenance_flow(self, spark, tmp_table_dir):
        """append → merge → compact → cluster → expire+reap, all on
        copy+delete rename semantics with a conditional-put commit CAS."""
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "os"), io)
        # materialized: the expire+reap below deletes this plan's source files
        before = t.scan().select("image_id", "caption", "phash").localCheckpoint()

        ch = (
            datagen.gen_images_df(spark, 40)
            .withColumn("caption", F.concat(F.col("caption"), F.lit(" v2")))
            .withColumn("_op_type", F.lit("u"))
            .withColumn("_cdc_timestamp", F.lit(1))
        )
        merge_into(t, ch, keep_deletes=False)
        res = run_compaction(t, "os-c", fill_ratio=1.0, target_bytes=TARGET)
        assert res["bins_executed"] > 0
        run_cluster_rewrite(t, "os-z", curve="hilbert")
        t.expire_snapshots(keep_last=1)
        t.remove_orphan_files(grace_seconds=0)

        after = t.scan().select("image_id", "caption", "phash")
        expected = before.filter(
            ~F.col("image_id").isin([r[0] for r in ch.select("image_id").collect()])
        ).unionByName(ch.select("image_id", "caption", "phash"))
        assert row_sets_equal(expected, after)
        # the commit CAS never used hard links and every data promote was a
        # copy+delete batch
        assert io.counts["rename_many"] > 0

    def test_promote_bounded_driver_calls(self, spark, tmp_table_dir):
        """A write that lands many files issues O(1) FileIO calls: one
        rename_many per staged write, ZERO per-file renames."""
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "bd"), io, n_files=40)
        assert len(data_files(t)) >= 20  # many physical files landed
        assert io.counts["rename"] == 0, "per-file rename loop on promote path"
        assert io.counts["rename_many"] == 1  # the single append
        run_compaction(t, "bd-c", fill_ratio=1.0, target_bytes=TARGET)
        assert io.counts["rename"] == 0
        # compaction adds exactly one bulk promote (plus none for metadata)
        assert io.counts["rename_many"] == 2

    def test_orphan_reap_bounded_and_distributed(self, spark, tmp_table_dir):
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "reap"), io)
        run_compaction(t, "reap-c", fill_ratio=1.0, target_bytes=TARGET)
        t.expire_snapshots(keep_last=1)
        expected = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert expected  # compaction + expire left real orphans

        io.counts.clear()
        got = t.remove_orphan_files(grace_seconds=0, distributed=True)
        assert got == expected
        # distributed mode: the driver never walked the tree, listed only
        # first-level dirs, and deleted everything in ONE batched call
        assert io.counts["walk_files"] == 0
        assert io.counts["remove_many"] == 1
        assert io.counts["remove"] == 0
        after = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert after == []
        assert t.scan().count() == N

    def test_local_and_distributed_listings_agree(self, spark, tmp_table_dir):
        t = _mk_table(spark, os.path.join(tmp_table_dir, "agree"),
                      FakeObjectStoreFileIO())
        run_compaction(t, "ag-c", fill_ratio=1.0, target_bytes=TARGET)
        t.expire_snapshots(keep_last=1)
        local = t.remove_orphan_files(grace_seconds=0, dry_run=True,
                                      distributed=False)
        dist = t.remove_orphan_files(grace_seconds=0, dry_run=True,
                                     distributed=True)
        assert local == dist and local


class TestPromoteParallelism:
    def test_latency_amortized_by_parallel_batch(self, spark, tmp_table_dir):
        """With 50 ms of injected per-request latency, a many-file promote
        must cost ~batch/parallelism, not files × latency — catching any
        accidental return to a serial per-file loop as wall-clock."""
        io = FakeObjectStoreFileIO(latency_s=0.05, parallelism=16)
        t0 = __import__("time").perf_counter()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "lat"), io,
                      n_files=40)
        wall = __import__("time").perf_counter() - t0
        n_files = len(data_files(t))
        assert n_files >= 20
        # serial floor would be ≥ n_files × 50 ms on renames alone; the
        # parallel batch keeps total FileIO latency near (n/16 + O(1)) × 50ms.
        # Generous bound: half the serial floor (the write itself dominates).
        assert wall < 10 + n_files * 0.05 / 2, (wall, n_files)


class TestMidPromoteFault:
    @pytest.mark.parametrize(
        "op", ["append", "backfill", "delete_where", "run_compaction"]
    )
    def test_fault_then_resume(self, spark, tmp_table_dir, op):
        """Kill a writer's promote mid-batch (after copy, before delete —
        both names exist), assert the table is untouched and carries zero
        uncommitted garbage after the abort path, then rerun the SAME
        operation to completion."""
        io = FakeObjectStoreFileIO()
        root = os.path.join(tmp_table_dir, "fault")
        t = _mk_table(spark, root, io)
        cols = ["image_id", "caption", "phash"]
        before = t.scan().select(*cols)
        snap_before = t.current_snapshot_id
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
        new = datagen.gen_images_df(spark, N + 40).filter(
            F.col("image_id") >= f"img-{N:012d}"
        )
        doomed = "cast(substring(image_id, 5, 12) as bigint) % 10 = 0"
        run, expected = {
            "append": (
                lambda: t.append(new, max_records_per_file=4),
                before.unionByName(new.select(*cols)),
            ),
            "backfill": (
                lambda: backfill(t, new, "phash", "f-job", log=log, n_chunks=4,
                                 max_records_per_file=4),
                before.unionByName(new.select(*cols)),
            ),
            "delete_where": (
                lambda: t.delete_where(doomed),
                before.filter(f"NOT ({doomed})"),
            ),
            "run_compaction": (
                lambda: run_compaction(t, "f-job", log=log, fill_ratio=1.0,
                                       target_bytes=TARGET),
                before,
            ),
        }[op]

        # a delete may write a single file: fail its first rename
        io.fail_renames_after = 0 if op == "delete_where" else 3
        with pytest.raises(FaultInjected):
            run()
        io.fail_renames_after = None

        # no snapshot advanced; reader-visible state identical
        t.refresh()
        assert t.current_snapshot_id == snap_before
        assert row_sets_equal(before, t.scan().select(*cols))
        # the abort path deleted every already-promoted destination: no
        # unreferenced parquet outside the staged dirs survives
        live = {e.file_path for e in t.entries()}
        stray = [
            os.path.relpath(p, t.root)
            for d in ("data", "deletes")
            for p in io.walk_files(os.path.join(root, d))
            if p.endswith(".parquet")
            and os.path.relpath(p, t.root) not in live
        ]
        assert stray == []

        run()
        assert t.current_snapshot_id != snap_before
        assert row_sets_equal(expected, t.scan().select(*cols))

    def test_hard_crash_leftovers_are_reaped(self, spark, tmp_table_dir):
        """A hard crash (no in-process abort path) can leave promoted-but-
        uncommitted objects; the reaper must collect them without touching
        live files."""
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "crash"), io)
        # plant a crash leftover: a promoted-looking object no manifest knows
        stray = os.path.join(t.root, "data", "999999-deadbeef.parquet")
        with open(stray, "wb") as f:
            f.write(b"PAR1junkPAR1")
        got = t.remove_orphan_files(grace_seconds=0)
        assert "data/999999-deadbeef.parquet" in got
        assert t.scan().count() == N
