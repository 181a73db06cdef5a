"""Object-store FileIO realism (round-2 verdict item #1).

FakeObjectStoreFileIO breaks every POSIX assumption — no rename, no hard
links, conditional-put commit CAS — and the engine must hold all its
guarantees on top of it, the way the reference holds them on S3FileIO
(iceberg_utils.go:197-260). Written files are registered where Spark's
commit left them, so a crash between write and commit leaves only
unreferenced files for the orphan reaper. Also pins the bounded-driver-work
contract: writes and orphan reaps issue O(1) FileIO calls (one walk_files
whose listing carries each file's mtime, one remove_many), never per-file
loops; and a reap leaves no empty write-job directory behind.

The FULL suite runs under these semantics via `OLAKE_FILEIO=objectstore
python -m pytest tests/` (default FileIO switch in icelite.fileio.default_io).
"""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen, sync
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import (FakeObjectStoreFileIO, LocalFileIO,
                                 PartitionField, PartitionSpec, Table)
from olake_spark.icelite.table import (DATA, EQ_DELETES, POS_DELETES,
                                       CommitConflict)
from olake_spark.operators import compact
from olake_spark.operators.cluster import run_cluster_rewrite
from olake_spark.operators.compact import (purge_dead_deletes,
                                           rewrite_position_deletes,
                                           run_compaction)
from olake_spark.operators.expire import run_expire
from olake_spark.operators.merge import merge_into
from olake_spark.streaming.table_sink import write_table_stream
from olake_spark.sync import backfill
from olake_spark.verify import row_sets_equal

N = 300
TARGET = 2 * 1024 * 1024
COLS = ["image_id", "caption", "phash"]


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


def physical_files(t) -> set[str]:
    """Root-relative paths of every file under data/ and deletes/."""
    return {
        os.path.relpath(os.path.join(d, f), t.root)
        for sub in ("data", "deletes")
        for d, _dirs, files in os.walk(os.path.join(t.root, sub))
        for f in files
    }


def _assert_no_empty_dirs(t) -> None:
    """No directory below data/ or deletes/ is empty."""
    for sub in ("data", "deletes"):
        top = os.path.join(t.root, sub)
        empty = [
            d for d, dirs, files in os.walk(top)
            if d != top and not dirs and not files
        ]
        assert empty == [], empty


def new_rows(spark):
    return datagen.gen_images_df(spark, N + 40).filter(
        F.col("image_id") >= f"img-{N:012d}"
    )


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
        # Spark's side files (_SUCCESS, .crc) never outlive a write
        assert all(p.endswith(".parquet") for p in physical_files(t))

    def test_write_bounded_driver_calls(self, spark, tmp_table_dir):
        """Every write job, however many files it lands, issues O(1) FileIO
        calls: one walk_files, at most one remove_many (side files and
        empty files together), ZERO per-file removes — and leaves no
        non-parquet file behind."""
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "bd"), io, n_files=40)
        assert len(data_files(t)) >= 20  # many physical files landed
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))

        def check(counts):
            assert counts["walk_files"] == 1
            assert counts["remove_many"] <= 1
            assert counts["remove"] == 0, "per-file remove loop on a write"
            assert all(p.endswith(".parquet") for p in physical_files(t))

        check(io.counts)
        for op in (
            lambda: t.delete_where("cast(substring(image_id, 5, 12) as bigint) % 7 = 0"),
            lambda: t.delete_where("cast(substring(image_id, 5, 12) as bigint) % 7 = 1"),
            lambda: rewrite_position_deletes(t),
            lambda: run_compaction(t, "bd-c", fill_ratio=1.0, target_bytes=TARGET),
            lambda: run_cluster_rewrite(t, "bd-z", curve="hilbert"),
            lambda: backfill(t, new_rows(spark), "phash", "bd-b", log=log,
                             n_chunks=4),
        ):
            io.counts.clear()
            op()
            check(io.counts)

    def test_orphan_reap_bounded_and_distributed(self, spark, tmp_table_dir,
                                                 monkeypatch):
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "reap"), io)
        run_compaction(t, "reap-c", fill_ratio=1.0, target_bytes=TARGET)
        t.expire_snapshots(keep_last=1)
        expected = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert expected  # compaction + expire left real orphans

        monkeypatch.setattr(Table, "DISTRIBUTED_LIST_THRESHOLD", 0)
        io.counts.clear()
        got = t.remove_orphan_files(grace_seconds=0)
        assert got == expected
        # distributed listing: the driver's walk stopped at the first file
        # past the threshold, listed only first-level dirs, and deleted
        # everything in ONE batched call
        assert io.counts["walk_files"] == 1
        assert io.counts["remove_many"] == 1
        assert io.counts["remove"] == 0
        after = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert after == []
        assert t.scan().count() == N

    def test_reap_requests_independent_of_orphan_count(self, spark,
                                                       tmp_table_dir):
        """The grace check reads the mtimes the listing returned: a reap
        that finds 30 orphans issues exactly the requests of one that finds
        1 — no per-file stat."""
        io = FakeObjectStoreFileIO()
        t = _mk_table(spark, os.path.join(tmp_table_dir, "req"), io, n_files=10)
        requests = []
        for k in (1, 30):
            job = os.path.join(t.root, "data", f"999999-stray{k}", "b=0")
            os.makedirs(job)
            for i in range(k):
                with open(os.path.join(job, f"f{i}.parquet"), "wb") as f:
                    f.write(b"PAR1junkPAR1")
            io.counts.clear()
            assert len(t.remove_orphan_files(grace_seconds=0)) == k
            requests.append(dict(io.counts))
            # the emptied write-job tree went with its last file
            assert not os.path.exists(os.path.dirname(job))
        assert requests[0] == requests[1]
        assert t.scan().count() == N

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_reap_leaves_no_empty_directories(self, spark, tmp_table_dir,
                                              io_cls):
        """Appends, a delete, a compaction that applies it, expire, reap: no
        emptied write-job directory is left under data/ or deletes/, yet
        both stay although the reap took every file out of deletes/ — a
        streaming upsert, whose writers put files straight into them, still
        commits."""
        t = _mk_table(spark, os.path.join(tmp_table_dir, "dirs"), io_cls(),
                      n_files=10)
        for k in range(2):
            t.append(
                new_rows(spark).withColumn(
                    "image_id", F.concat(F.lit(f"x{k}-"), F.col("image_id"))
                ),
                max_records_per_file=4,
            )
        t.delete_where("cast(substring(image_id, -12, 12) as bigint) % 9 = 0")
        rows = t.scan().select(*COLS).localCheckpoint()
        run_compaction(t, "dirs-c", fill_ratio=1.0, target_bytes=TARGET)
        t.expire_snapshots(keep_last=1)
        reaped = t.remove_orphan_files(grace_seconds=0)
        assert any(p.startswith("deletes/") for p in reaped)
        assert all(e.content == DATA for e in t.entries())
        assert not any(p.startswith("deletes/") for p in physical_files(t))
        _assert_no_empty_dirs(t)
        assert row_sets_equal(rows, t.scan().select(*COLS))

        feed = os.path.join(tmp_table_dir, "dirs-feed")
        upd = (
            datagen.gen_images_df(spark, 6)
            .filter(F.col("image_id") > f"img-{0:012d}")
            .withColumn("caption", F.lit("upserted"))
        )  # keys img-1..5, all live (the delete took img-0)
        upd.write.parquet(feed)
        q = write_table_stream(
            spark.readStream.schema(datagen.IMAGES_SCHEMA).parquet(feed),
            t.root, os.path.join(tmp_table_dir, "dirs-ckpt"),
            txn_app="dirs", mode="upsert",
        )
        q.awaitTermination(180)
        t.refresh()
        got = t.scan().select(*COLS)
        assert got.count() == rows.count()
        assert got.filter(F.col("caption") == "upserted").count() == 5

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_truncate_reap_then_append(self, spark, tmp_table_dir, io_cls):
        """truncate, expire and reap unreference and delete every data file
        and manifest; data/, deletes/ and metadata/manifests/ stay, so the
        next append writes its files and manifest into them."""
        t = _mk_table(spark, os.path.join(tmp_table_dir, "trunc"), io_cls(),
                      n_files=10)
        t.truncate()
        t.expire_snapshots(keep_last=1)
        reaped = t.remove_orphan_files(grace_seconds=0)
        assert any(p.startswith("data/") for p in reaped)
        assert any(p.startswith(os.path.join("metadata", "manifests")) for p in reaped)
        for sub in ("data", "deletes", os.path.join("metadata", "manifests")):
            assert os.path.isdir(os.path.join(t.root, sub)), sub
        assert physical_files(t) == set()
        _assert_no_empty_dirs(t)
        added = new_rows(spark)
        t.append(added, max_records_per_file=10)
        assert row_sets_equal(added.select(*COLS), t.scan().select(*COLS))

    def test_local_and_distributed_listings_agree(self, spark, tmp_table_dir,
                                                  monkeypatch):
        t = _mk_table(spark, os.path.join(tmp_table_dir, "agree"),
                      FakeObjectStoreFileIO())
        run_compaction(t, "ag-c", fill_ratio=1.0, target_bytes=TARGET)
        t.expire_snapshots(keep_last=1)
        local = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        monkeypatch.setattr(Table, "DISTRIBUTED_LIST_THRESHOLD", 0)
        dist = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert local == dist and local


class TestFaultAfterWrite:
    @pytest.mark.parametrize(
        "op", ["append", "backfill", "delete_where", "run_compaction"]
    )
    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_fault_then_resume(self, spark, tmp_table_dir, monkeypatch,
                               io_cls, op):
        """Kill a writer after its Spark write, at the commit: the table is
        untouched, every file the write left is an orphan the reaper
        collects, and a rerun of the SAME operation completes."""
        root = os.path.join(tmp_table_dir, "fault")
        t = _mk_table(spark, root, io_cls())
        before = t.scan().select(*COLS)
        snap_before = t.current_snapshot_id
        files_before = physical_files(t)
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
        new = new_rows(spark)
        doomed = "cast(substring(image_id, 5, 12) as bigint) % 10 = 0"
        run, expected = {
            "append": (
                lambda: t.append(new, max_records_per_file=4),
                before.unionByName(new.select(*COLS)),
            ),
            "backfill": (
                lambda: backfill(t, new, "phash", "f-job", log=log, n_chunks=4,
                                 max_records_per_file=4),
                before.unionByName(new.select(*COLS)),
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

        def crash(*_a, **_kw):
            raise OSError("injected crash at commit")

        # on the instance: the maintenance log is a Table too and must commit
        monkeypatch.setattr(t, "_commit", crash)
        with pytest.raises(OSError, match="injected crash"):
            run()
        monkeypatch.undo()

        # no snapshot advanced; reader-visible state identical
        t.refresh()
        assert t.current_snapshot_id == snap_before
        assert row_sets_equal(before, t.scan().select(*COLS))
        # the write left files behind, and the reaper sees exactly those
        left = physical_files(t) - files_before
        assert left
        orphans = t.remove_orphan_files(grace_seconds=0, dry_run=True)
        assert {p for p in orphans if p.startswith(("data/", "deletes/"))} == left
        t.remove_orphan_files(grace_seconds=0)
        assert physical_files(t) == files_before

        run()
        assert t.current_snapshot_id != snap_before
        assert row_sets_equal(expected, t.scan().select(*COLS))

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_mid_group_commit_conflict(self, spark, tmp_table_dir, monkeypatch,
                                       io_cls):
        """An equality delete lands between two compaction group commits:
        the first group stands, the later groups' output is deleted (no
        orphan), and run_compaction re-plans and finishes on the
        post-delete rows."""
        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = _mk_table(spark, os.path.join(tmp_table_dir, "mgc"), io_cls())
        n_bins = len(compact.plan_compaction(t, TARGET, fill_ratio=1.0))
        assert n_bins >= 2
        before = t.scan().select(*COLS).localCheckpoint()
        victim = before.select("image_id").orderBy("image_id").limit(1)

        rewrite_files, calls = t.rewrite_files, []

        def delete_before_second_group(*a, **kw):
            calls.append(1)
            if len(calls) == 2:
                t.row_delta(None, victim)
            return rewrite_files(*a, **kw)

        monkeypatch.setattr(t, "rewrite_files", delete_before_second_group)
        res = run_compaction(t, "mgc-c", fill_ratio=1.0, target_bytes=TARGET)

        # group 1 committed, then every bin of the re-plan
        assert res["bins_executed"] == 1 + res["bins_planned"]
        assert res["bins_executed"] >= n_bins
        expected = before.join(victim, "image_id", "left_anti")
        assert row_sets_equal(expected, t.scan().select(*COLS))
        assert t.remove_orphan_files(grace_seconds=0, dry_run=True) == []

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_kill_between_group_commit_and_log(self, spark, tmp_table_dir,
                                               monkeypatch, io_cls):
        """Kill a compaction after its first group's commit, before that
        group's maintenance-log append: the later groups' output is deleted,
        and a rerun of the same job keeps the row set, leaves no orphan and
        redoes none of the committed group's bins (their source files are
        gone from the table, so no re-plan can hold them). The rerun finds
        the job's unlogged commit and keeps its output out of the plan, so
        it executes exactly the other planned bins and leaves that output
        in place, although at fill_ratio=1.0 it is itself a small file."""
        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = _mk_table(spark, os.path.join(tmp_table_dir, "klog"), io_cls())
        n_bins = len(compact.plan_compaction(t, TARGET, fill_ratio=1.0))
        assert n_bins >= 2
        before = t.scan().select(*COLS).localCheckpoint()
        live_before = {e.file_path for e in data_files(t)}
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))

        def crash(*_a, **_kw):
            raise OSError("injected crash before the log append")

        with monkeypatch.context() as m:
            m.setattr(log, "log_done_many", crash)
            with pytest.raises(OSError, match="injected crash"):
                run_compaction(t, "klog-c", log=log, fill_ratio=1.0,
                               target_bytes=TARGET)
        t.refresh()
        snap = t.snapshot()
        assert snap["operation"] == "compact"
        committed_chunks = set(snap["summary"]["chunk_ids"])
        live_after = {e.file_path for e in data_files(t)}
        consumed = live_before - live_after
        written = live_after - live_before
        assert len(committed_chunks) == 1 and consumed and written
        assert log.done_chunk_ids("klog-c") == set()
        assert all(os.path.exists(t._abs(e.file_path)) for e in t.entries())
        assert t.remove_orphan_files(grace_seconds=0, dry_run=True) == []
        replan = compact.plan_compaction(t, TARGET, fill_ratio=1.0)
        assert not {b.chunk_id for b in replan} & committed_chunks

        res = run_compaction(t, "klog-c", log=log, fill_ratio=1.0,
                             target_bytes=TARGET)
        assert res["bins_executed"] == n_bins - 1
        redone = log.done_chunk_ids("klog-c")
        assert redone and not redone & committed_chunks
        live = {e.file_path for e in data_files(t)}
        assert written <= live and not consumed & live
        assert row_sets_equal(before, t.scan().select(*COLS))
        assert t.remove_orphan_files(grace_seconds=0, dry_run=True) == []

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_log_append_conflict_keeps_committed_output(
        self, spark, tmp_table_dir, monkeypatch, io_cls
    ):
        """The maintenance log is a table: its append can give up with
        CommitConflict after the group's data commit has landed. That
        group's output is then referenced by the table and must stay; only
        the later groups' output is deleted, and run_compaction's re-plan
        finishes the job with the row set unchanged."""
        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = _mk_table(spark, os.path.join(tmp_table_dir, "kcf"), io_cls())
        assert len(compact.plan_compaction(t, TARGET, fill_ratio=1.0)) >= 2
        before = t.scan().select(*COLS).localCheckpoint()
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
        log_done_many = log.log_done_many
        calls = []

        def conflict_once(*a, **kw):
            calls.append(a)
            if len(calls) == 1:
                raise CommitConflict("gave up after 20 commit attempts")
            return log_done_many(*a, **kw)

        monkeypatch.setattr(log, "log_done_many", conflict_once)
        res = run_compaction(t, "kcf-c", log=log, fill_ratio=1.0,
                             target_bytes=TARGET)
        assert len(calls) >= 2 and res["bins_executed"] >= 2
        t.refresh()
        assert all(os.path.exists(t._abs(e.file_path)) for e in t.entries())
        assert row_sets_equal(before, t.scan().select(*COLS))
        assert t.remove_orphan_files(grace_seconds=0, dry_run=True) == []

    @pytest.mark.parametrize("expire", [False, True])
    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_backfill_kill_between_commit_and_log(self, spark, tmp_table_dir,
                                                  monkeypatch, io_cls, expire):
        """Kill a backfill after its first group's commit, before that
        group's maintenance-log append: a rerun of the same job — also after
        an expiry that drops every snapshot but the current one — writes
        only the chunks that did not land, so no row is appended twice."""
        monkeypatch.setattr(sync, "COMMIT_GROUP", 1)
        t = _mk_table(spark, os.path.join(tmp_table_dir, "kbf"), io_cls())
        before = t.scan().select(*COLS).localCheckpoint()
        new = new_rows(spark)
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))

        def crash(*_a, **_kw):
            raise OSError("injected crash before the log append")

        with monkeypatch.context() as m:
            m.setattr(log, "log_done_many", crash)
            with pytest.raises(OSError, match="injected crash"):
                backfill(t, new, "phash", "kbf", log=log, n_chunks=4)
        t.refresh()
        assert t.snapshot()["summary"]["job_id"] == "kbf"
        assert log.done_chunk_ids("kbf") == set()
        if expire:
            run_expire(t, keep_last=1, grace_seconds=0)

        res = backfill(t, new, "phash", "kbf", log=log, n_chunks=4)
        assert res["chunks_planned"] >= 2 and res["chunks_skipped"] == 1
        assert res["chunks_executed"] == res["chunks_planned"] - 1
        got = t.scan().select(*COLS)
        assert got.count() == got.select("image_id").distinct().count()
        assert row_sets_equal(before.unionByName(new.select(*COLS)), got)

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_backfill_without_log_appends_once(self, spark, tmp_table_dir,
                                               monkeypatch, io_cls):
        """Without a maintenance log, a second backfill under the same job
        id appends nothing, and so does a duplicate run that races the
        first: its commits are skipped and its staged files removed."""
        t = _mk_table(spark, os.path.join(tmp_table_dir, "bfo"), io_cls())
        expected = t.scan().select(*COLS).unionByName(
            new_rows(spark).select(*COLS)
        ).localCheckpoint()
        stage_write, raced = t._stage_write, []

        def race(*a, **kw):
            staged = stage_write(*a, **kw)
            if not raced:  # the rival run lands every chunk first
                raced.append(None)
                raced[0] = backfill(t, new_rows(spark), "phash", "bfo",
                                    n_chunks=4)
            return staged

        monkeypatch.setattr(t, "_stage_write", race)
        loser = backfill(t, new_rows(spark), "phash", "bfo", n_chunks=4)
        monkeypatch.undo()
        assert raced[0]["chunks_executed"] == raced[0]["chunks_planned"] >= 2
        assert loser["chunks_executed"] == 0
        again = backfill(t, new_rows(spark), "phash", "bfo", n_chunks=4)
        assert again["chunks_executed"] == 0
        assert again["chunks_skipped"] == again["chunks_planned"]
        assert row_sets_equal(expected, t.scan().select(*COLS))
        assert t.remove_orphan_files(grace_seconds=0, dry_run=True) == []

    @pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
    def test_backfill_of_another_source_under_one_job_id(
        self, spark, tmp_table_dir, io_cls
    ):
        """A one-chunk plan is the same for every source, so the resume key
        also names the source: a second source of equal size under the
        same job id is appended, not skipped."""
        t = _mk_table(spark, os.path.join(tmp_table_dir, "bfs"), io_cls())
        rows = datagen.gen_images_df(spark, N + 80)
        first = rows.filter(F.col("image_id").between(
            f"img-{N:012d}", f"img-{N + 39:012d}"
        ))
        second = rows.filter(F.col("image_id") >= f"img-{N + 40:012d}")
        expected = t.scan().select(*COLS).unionByName(
            rows.filter(F.col("image_id") >= f"img-{N:012d}").select(*COLS)
        ).localCheckpoint()
        for src in (first, second, second):
            backfill(t, src, "phash", "bfs", n_chunks=1)
        got = t.scan().select(*COLS)
        assert got.count() == got.select("image_id").distinct().count()
        assert row_sets_equal(expected, got)

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


def _with_delete_debt(spark, root, io):
    """A fragmented table with both delete kinds over every data file: an
    equality delete on every 5th id, position deletes on every 7th."""
    t = _mk_table(spark, root, io)
    t.row_delta(None, spark.createDataFrame(
        [(f"img-{i:012d}",) for i in range(0, N, 5)], ["image_id"]
    ))
    t.delete_where("cast(substring(image_id, 5, 12) as bigint) % 7 = 0")
    assert {e.content for e in t.entries()} == {DATA, EQ_DELETES, POS_DELETES}
    return t


def delete_files(t) -> set[str]:
    return {e.file_path for e in t.entries() if e.content != DATA}


@pytest.mark.parametrize("io_cls", [LocalFileIO, FakeObjectStoreFileIO])
class TestCompactionDropsDeadDeletes:
    """A compaction's last group commit drops the delete files its result
    leaves dead: no separate purge snapshot."""

    def test_one_snapshot_per_group(self, spark, tmp_table_dir, io_cls):
        t = _with_delete_debt(spark, os.path.join(tmp_table_dir, "dd"), io_cls())
        expected = t.scan().select(*COLS).localCheckpoint()
        dels = delete_files(t)
        n_bins = len(compact.plan_compaction(t, TARGET, fill_ratio=1.0))
        n_snaps = len(t.snapshots())
        res = run_compaction(t, "dd-c", fill_ratio=1.0, target_bytes=TARGET)
        new = t.snapshots()[n_snaps:]
        assert [s["operation"] for s in new] == ["compact"] * -(
            -n_bins // compact.COMMIT_GROUP
        )
        assert res["delete_files_purged"] == len(dels)
        assert new[-1]["summary"]["purged-delete-files"] == len(dels)
        assert delete_files(t) == set()
        assert row_sets_equal(expected, t.scan().select(*COLS))

    def test_only_the_last_group_drops_deletes(self, spark, tmp_table_dir,
                                               monkeypatch, io_cls):
        """Killed after its first group, the run leaves every delete file
        live and the row set exact; the resume's last commit drops them."""
        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = _with_delete_debt(spark, os.path.join(tmp_table_dir, "dk"), io_cls())
        expected = t.scan().select(*COLS).localCheckpoint()
        dels = delete_files(t)
        assert len(compact.plan_compaction(t, TARGET, fill_ratio=1.0)) >= 2
        rewrite_files, calls = t.rewrite_files, []

        def crash_at_second_commit(*a, **kw):
            calls.append(1)
            if len(calls) == 2:
                raise OSError("injected crash at the second group's commit")
            return rewrite_files(*a, **kw)

        with monkeypatch.context() as m:
            m.setattr(t, "rewrite_files", crash_at_second_commit)
            with pytest.raises(OSError, match="injected crash"):
                run_compaction(t, "dk-c", fill_ratio=1.0, target_bytes=TARGET)
        t.refresh()
        assert t.snapshot()["summary"]["bins-left"] >= 1
        assert delete_files(t) == dels
        assert row_sets_equal(expected, t.scan().select(*COLS))

        n_snaps = len(t.snapshots())
        res = run_compaction(t, "dk-c", fill_ratio=1.0, target_bytes=TARGET)
        assert res["delete_files_purged"] == len(dels)
        assert {s["operation"] for s in t.snapshots()[n_snaps:]} == {"compact"}
        assert delete_files(t) == set()
        assert row_sets_equal(expected, t.scan().select(*COLS))

    def test_scoped_compaction_keeps_live_deletes(self, spark, tmp_table_dir,
                                                  io_cls):
        """A predicate-scoped run leaves burdened files outside its scope:
        the equality delete still applies to them and stays, as do the
        position deletes that mark their rows."""
        t = _with_delete_debt(spark, os.path.join(tmp_table_dir, "ds"), io_cls())
        expected = t.scan().select(*COLS).localCheckpoint()
        eq = {e.file_path for e in t.entries() if e.content == EQ_DELETES}
        scope = [("image_id", "<", f"img-{N // 2:012d}")]
        outside = {
            e.file_path for e in data_files(t)
            if e.mins["image_id"] >= f"img-{N // 2:012d}"
        }
        assert outside
        res = run_compaction(t, "ds-c", fill_ratio=1.0, target_bytes=TARGET,
                             predicates=scope)
        assert res["bins_executed"] > 0
        assert outside <= {e.file_path for e in data_files(t)}
        assert eq <= delete_files(t)
        assert any(e.content == POS_DELETES for e in t.entries())
        assert purge_dead_deletes(t) == 0  # nothing dead was left behind
        assert row_sets_equal(expected, t.scan().select(*COLS))
