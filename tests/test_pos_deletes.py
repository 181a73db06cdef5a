"""Positional-delete (Iceberg v2 merge-on-read DELETE) tests.

Reference parity: OLake's Iceberg sink commits equality deletes for CDC
upserts (iceberg_utils.go:180) but the Iceberg v2 spec it writes against
also defines positional deletes (content=1, rows of (file_path, pos));
`Table.delete_where` is the Spark-first rendition — row identity from the
parquet reader's hidden `_metadata.file_path` / `_metadata.row_index`
columns, marks applied as an anti-join at scan time, folded in physically
by the next compaction, whose commit drops the dead delete files.
"""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.icelite.table import DATA, EQ_DELETES, POS_DELETES, CommitConflict
from olake_spark.operators.compact import purge_dead_deletes, run_compaction

N = 240


@pytest.fixture()
def images_table(spark, tmp_table_dir):
    t = Table.create(
        spark,
        os.path.join(tmp_table_dir, "images"),
        datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 4),)),
        identifier_fields=("image_id",),
    )
    t.append(datagen.gen_images_df(spark, N))
    return t


NUM = "cast(substring(image_id, 5, 12) as bigint)"  # image_id = 'img-%012d'


def _ids(t, **scan_kw):
    return {
        int(r[0][4:])
        for r in t.scan(columns=["image_id"], **scan_kw).collect()
    }


class TestDeleteWhere:
    def test_basic_predicate_delete(self, images_table):
        t = images_table
        before = _ids(t)
        res = t.delete_where(f"{NUM} % 3 = 0")
        expect_gone = {i for i in before if i % 3 == 0}
        assert res["rows_deleted"] == len(expect_gone)
        assert res["delete_files"] >= 1
        assert _ids(t) == before - expect_gone
        # merge-on-read: no data file was rewritten
        assert {e.file_path for e in t.entries() if e.content == DATA} == {
            e.file_path
            for e in t.entries(t.snapshots()[0]["snapshot_id"])
            if e.content == DATA
        }
        assert any(e.content == POS_DELETES for e in t.entries())

    def test_cumulative_deletes_no_double_marking(self, images_table):
        t = images_table
        r1 = t.delete_where(f"{NUM} < 40")
        # overlapping predicate: already-deleted rows must not be re-marked
        r2 = t.delete_where(f"{NUM} < 80")
        assert r1["rows_deleted"] == 40
        assert r2["rows_deleted"] == 40
        assert _ids(t) == set(range(80, N))

    def test_no_match_is_noop(self, images_table):
        t = images_table
        n_snaps = len(t.snapshots())
        res = t.delete_where(F.expr(NUM) < 0)
        assert res == {"rows_deleted": 0, "delete_files": 0}
        assert len(t.snapshots()) == n_snaps

    def test_column_condition(self, images_table):
        t = images_table
        t.delete_where(F.expr(NUM) >= N - 10)
        assert _ids(t) == set(range(N - 10))

    def test_time_travel_sees_pre_delete_state(self, images_table):
        t = images_table
        pre = t.current_snapshot_id
        t.delete_where(f"{NUM} % 2 = 0")
        assert len(_ids(t, snapshot_id=pre)) == N
        assert len(_ids(t)) == N // 2

    def test_with_pos_scan_columns(self, images_table):
        t = images_table
        df = t.scan(columns=["image_id"], with_pos=True)
        assert set(df.columns) == {"image_id", "_file_path", "_pos"}
        rows = df.collect()
        assert len(rows) == N
        by_file: dict[str, list[int]] = {}
        for r in rows:
            assert not os.path.isabs(r["_file_path"])  # relative to table root
            by_file.setdefault(r["_file_path"], []).append(r["_pos"])
        counts = {e.file_path: e.record_count for e in t.entries() if e.content == DATA}
        for path, poss in by_file.items():
            # row ordinals are exactly 0..record_count-1 within each file
            assert sorted(poss) == list(range(counts[path]))


class TestPosDeleteMaintenance:
    def test_compaction_folds_marks_and_purge_reaps(self, spark, images_table):
        t = images_table
        t.delete_where(f"{NUM} % 4 = 1")
        survivors = _ids(t)
        res = run_compaction(t, "job-posdel", target_bytes=1 << 30)
        # compaction folds the marks into the rewritten files and its commit
        # drops the now-dead positional-delete file
        assert res["delete_files_purged"] >= 1
        assert not any(e.content == POS_DELETES for e in t.entries())
        assert _ids(t) == survivors
        # steady state: scan plan has no anti-join left
        assert "Join" not in t.scan(columns=["image_id"])._jdf.queryExecution().executedPlan().toString()

    def test_purge_keeps_live_pos_deletes(self, images_table):
        t = images_table
        t.delete_where(f"{NUM} % 5 = 0")
        # nothing was rewritten → every mark still references live files
        assert purge_dead_deletes(t) == 0
        assert any(e.content == POS_DELETES for e in t.entries())

    def test_purge_keeps_stats_less_live_pos_deletes(self, images_table):
        """A pos-delete entry with no file_path min/max stats must get the
        same conservative default as Table._apply_pos_deletes: decide by
        exact read, never assume dead — purging a live mark resurrects
        deleted rows (round-3 ADVICE defect)."""
        import dataclasses

        t = images_table
        before = _ids(t)
        t.delete_where(f"{NUM} % 5 = 0")
        survivors = _ids(t)
        assert survivors < before
        real_entries = t.entries()

        def _stripped():
            return [
                dataclasses.replace(e, mins={}, maxs={})
                if e.content == POS_DELETES else e
                for e in real_entries
            ]

        t.entries = _stripped  # simulate footer stats gone missing
        try:
            assert purge_dead_deletes(t) == 0
        finally:
            del t.entries
        assert any(e.content == POS_DELETES for e in t.entries())
        assert _ids(t) == survivors  # no resurrection

    def test_eq_and_pos_deletes_compose(self, spark, images_table):
        t = images_table
        # equality delete via rowdelta (CDC path) ...
        keys = spark.createDataFrame([(f"img-{i:012d}",) for i in range(0, 30)], ["image_id"])
        t.row_delta(None, keys)
        # ... plus a positional predicate delete
        t.delete_where(f"{NUM} >= 200")
        assert _ids(t) == set(range(30, 200))


class TestPosDeleteConcurrency:
    def test_rewrite_conflicts_with_concurrent_pos_delete(self, images_table):
        t = images_table
        pinned = {e.file_path for e in t.entries() if e.content != DATA}
        victims = [e for e in t.entries() if e.content == DATA][:1]
        t.delete_where(f"{NUM} % 7 = 0")  # commits between pin and rewrite
        with pytest.raises(CommitConflict):
            t.rewrite_files(
                {victims[0].file_path}, [], op="compact",
                known_delete_paths=pinned,
            )

    def test_delete_retries_after_concurrent_rewrite(self, images_table, monkeypatch):
        """Compaction lands between delete_where's scan and its commit: the
        validateDataFilesExist guard must reject the stale marks and the
        retry must re-scan so marks land on the post-rewrite files."""
        t = images_table
        survivors_expected = {i for i in range(N) if i % 3 != 0}
        orig = Table._write_pos_delete_files
        fired = {"n": 0}

        def hooked(self, hits, seq):
            entries = orig(self, hits, seq)
            if fired["n"] == 0:
                fired["n"] += 1
                run_compaction(t, "job-posdel", target_bytes=1 << 30)
            return entries

        monkeypatch.setattr(Table, "_write_pos_delete_files", hooked)
        res = t.delete_where(f"{NUM} % 3 = 0")
        assert fired["n"] == 1
        assert res["rows_deleted"] == N - len(survivors_expected)
        assert _ids(t) == survivors_expected

    def test_require_live_paths_guard_direct(self, images_table):
        t = images_table
        with pytest.raises(CommitConflict):
            t._commit_snapshot(
                "delete", [], require_live_paths={"data/definitely-gone.parquet"}
            )


class TestUpdateWhere:
    def test_basic_update(self, images_table):
        t = images_table
        res = t.update_where(
            f"{NUM} % 6 = 0",
            {"caption": F.concat(F.lit("upd "), F.col("caption")),
             "w": F.lit(99)},
        )
        assert res["rows_updated"] == N // 6
        rows = {r["image_id"]: r for r in t.scan().collect()}
        assert len(rows) == N  # update never changes cardinality
        for iid, r in rows.items():
            i = int(iid[4:])
            if i % 6 == 0:
                assert r["caption"].startswith("upd ") and r["w"] == 99
            else:
                assert not r["caption"].startswith("upd ") and r["w"] != 99

    def test_update_no_match_is_noop(self, images_table):
        t = images_table
        n_snaps = len(t.snapshots())
        assert t.update_where(F.expr(NUM) < 0, {"w": F.lit(0)}) == {
            "rows_updated": 0
        }
        assert len(t.snapshots()) == n_snaps

    def test_update_is_atomic_and_time_travelable(self, images_table):
        t = images_table
        pre = t.current_snapshot_id
        t.update_where(f"{NUM} < 10", {"caption": F.lit("x")})
        old = t.scan(snapshot_id=pre, columns=["image_id", "caption"]).collect()
        assert not any(r["caption"] == "x" for r in old)
        assert (
            sum(r["caption"] == "x" for r in t.scan(columns=["caption"]).collect())
            == 10
        )

    def test_update_sql_assignment_and_compaction_fold(self, images_table):
        t = images_table
        before = {
            r["image_id"]: r["h"]
            for r in t.scan(columns=["image_id", "h"]).collect()
        }
        t.update_where(f"{NUM} % 2 = 1", {"h": "h * 2"})
        res = run_compaction(t, "job-upd", target_bytes=1 << 30)
        assert res["delete_files_purged"] >= 1
        for r in t.scan(columns=["image_id", "h"]).collect():
            factor = 2 if int(r["image_id"][4:]) % 2 else 1
            assert r["h"] == before[r["image_id"]] * factor

    def test_update_retries_after_concurrent_rewrite(self, images_table, monkeypatch):
        t = images_table
        orig = Table._write_pos_delete_files
        fired = {"n": 0}

        def hooked(self, hits, seq):
            entries = orig(self, hits, seq)
            if fired["n"] == 0:
                fired["n"] += 1
                run_compaction(t, "job-upd-race", target_bytes=1 << 30)
            return entries

        monkeypatch.setattr(Table, "_write_pos_delete_files", hooked)
        res = t.update_where(f"{NUM} % 3 = 0", {"caption": F.lit("raced")})
        assert fired["n"] == 1
        assert res["rows_updated"] == N - len({i for i in range(N) if i % 3})
        got = sum(
            r["caption"] == "raced" for r in t.scan(columns=["caption"]).collect()
        )
        assert got == len({i for i in range(N) if i % 3 == 0})


class TestChangelogScan:
    """Iceberg-style changelog (CDC read): delete-aware row feed with
    before-images, skipping rewrites."""

    def test_delete_update_feed(self, images_table):
        t = images_table
        start = t.current_snapshot_id
        t.delete_where(f"{NUM} % 8 = 0")
        t.update_where(f"{NUM} % 8 = 1", {"caption": F.lit("v2")})
        run_compaction(t, "clog-compact", fill_ratio=1.0)  # emits nothing
        rows = t.changelog_scan(start).collect()
        by = {}
        for r in rows:
            by.setdefault((r["_change_type"], r["_change_ordinal"]), set()).add(
                int(r["image_id"][4:])
            )
        assert by[("delete", 1)] == {i for i in range(N) if i % 8 == 0}
        assert by[("delete", 2)] == {i for i in range(N) if i % 8 == 1}
        assert by[("insert", 2)] == {i for i in range(N) if i % 8 == 1}
        assert set(by) == {("delete", 1), ("delete", 2), ("insert", 2)}
        # before-images carry the pre-update caption; inserts the new one
        caps = {
            (r["_change_type"], r["_change_ordinal"], r["caption"] == "v2")
            for r in rows
            if int(r["image_id"][4:]) % 8 == 1
        }
        assert ("delete", 2, False) in caps and ("insert", 2, True) in caps

    def test_merge_upsert_emits_cdc_pairs(self, spark, images_table):
        t = images_table
        start = t.current_snapshot_id
        upd = (
            t.scan()
            .filter(f"{NUM} < 20")
            .withColumn("caption", F.lit("merged"))
        )
        t.row_delta(upd, upd.select("image_id"))
        rows = t.changelog_scan(start).collect()
        dels = {r["image_id"] for r in rows if r["_change_type"] == "delete"}
        ins = {r["image_id"] for r in rows if r["_change_type"] == "insert"}
        expect = {f"img-{i:012d}" for i in range(20)}
        assert dels == expect and ins == expect

    def test_append_only_and_empty_window(self, spark, images_table):
        t = images_table
        start = t.current_snapshot_id
        assert t.changelog_scan(start).count() == 0  # empty window
        extra = datagen.gen_images_df(spark, N + 10).filter(f"{NUM} >= {N}")
        t.append(extra)
        rows = t.changelog_scan(start).collect()
        assert {r["_change_type"] for r in rows} == {"insert"}
        assert len(rows) == 10

    def test_rewrites_are_silent(self, images_table):
        t = images_table
        t.delete_where(f"{NUM} % 9 = 0")
        mid = t.current_snapshot_id
        run_compaction(t, "clog-silent", fill_ratio=1.0)
        assert t.changelog_scan(mid).count() == 0


class TestRewritePositionDeletes:
    """RewritePositionDeleteFiles parity: consolidate many tiny pos-delete
    files into few, drop dangling marks, never touch a data file."""

    def test_consolidates_and_preserves_scan(self, images_table):
        from olake_spark.operators.compact import rewrite_position_deletes

        t = images_table
        for k in (3, 5, 7):  # three delete commits → three delete files
            t.delete_where(f"{NUM} % {k} = 0")
        before = _ids(t)
        n_del_files = len([e for e in t.entries() if e.content == POS_DELETES])
        assert n_del_files >= 3
        data_before = {e.file_path for e in t.entries() if e.content == DATA}
        res = rewrite_position_deletes(t)
        assert res["rewritten_files"] == n_del_files
        assert res["added_files"] == 1  # tiny mark set → one file
        assert res["kept_marks"] == res["old_marks"]  # nothing dangling
        assert _ids(t) == before  # scan unchanged
        # merge-on-read invariant: zero data files touched
        assert {e.file_path for e in t.entries() if e.content == DATA} == data_before
        assert len([e for e in t.entries() if e.content == POS_DELETES]) == 1

    def test_drops_dangling_marks_after_compaction(self, spark, images_table):
        from olake_spark.operators.compact import rewrite_position_deletes

        t = images_table
        t.delete_where(f"{NUM} % 3 = 0")
        # compaction folds the marks in and mints new data paths, but keep
        # the dead delete file live by skipping purge: simulate by adding a
        # fresh delete AFTER compaction so the rewrite sees one live + the
        # fold behavior via purge is separately tested
        run_compaction(t, "fold", fill_ratio=1.0)
        live_before = _ids(t)
        t.delete_where(f"{NUM} % 5 = 0")
        t.delete_where(f"{NUM} % 7 = 0")
        res = rewrite_position_deletes(t)
        assert res["rewritten_files"] == 2
        assert _ids(t) == {i for i in live_before if i % 5 and i % 7}

    def test_commit_drops_dead_equality_deletes(self, spark, images_table):
        """An equality delete older than every live data file applies to
        nothing: the consolidation commit drops it too, in one snapshot."""
        from olake_spark.operators.compact import rewrite_position_deletes

        t = images_table
        t.row_delta(None, spark.createDataFrame(
            [(f"img-{i:012d}",) for i in range(0, N, 2)], ["image_id"]
        ))
        # replaces every data file; the equality delete stays in place
        t.overwrite_partitions(datagen.gen_images_df(spark, N))
        t.delete_where(f"{NUM} % 3 = 0")
        t.delete_where(f"{NUM} % 5 = 0")
        n_eq = len([e for e in t.entries() if e.content == EQ_DELETES])
        n_pos = len([e for e in t.entries() if e.content == POS_DELETES])
        assert n_eq
        expected = _ids(t)
        n_snaps = len(t.snapshots())
        res = rewrite_position_deletes(t)
        assert res["rewritten_files"] == n_pos
        assert res["dead_deletes_purged"] == n_eq
        assert len(t.snapshots()) == n_snaps + 1
        assert not any(e.content == EQ_DELETES for e in t.entries())
        assert _ids(t) == expected

    def test_noop_with_single_delete_file(self, images_table):
        from olake_spark.operators.compact import rewrite_position_deletes

        t = images_table
        t.delete_where(f"{NUM} % 11 = 0")
        res = rewrite_position_deletes(t)
        assert res["rewritten_files"] == 0

    def test_conflict_with_concurrent_fold_retries(self, images_table, monkeypatch):
        from olake_spark.operators import compact as C

        t = images_table
        t.delete_where(f"{NUM} % 3 = 0")
        t.delete_where(f"{NUM} % 5 = 0")
        expected = _ids(t)
        real_write = type(t)._write_pos_delete_files
        fired = {"n": 0}

        def racing_write(self, hits, seq, n_files=None):
            out = real_write(self, hits, seq, n_files)
            if fired["n"] == 0:
                fired["n"] = 1
                # a concurrent compaction folds + purges the old delete files
                # between our write and our commit
                other = Table.load(self.spark, self.root)
                C.run_compaction(other, "race-fold", fill_ratio=1.0)
                C.purge_dead_deletes(other)
            return out

        monkeypatch.setattr(type(t), "_write_pos_delete_files", racing_write)
        res = C.rewrite_position_deletes(t)
        # after the fold there are no live pos-delete files left → the retry
        # re-plans to a no-op; the scan is still exactly right
        assert res["rewritten_files"] == 0
        assert _ids(t) == expected
