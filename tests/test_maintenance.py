"""Maintenance-operator invariants (SURVEY.md §5 test plan items 2-4):
every op preserves the exact row set; MERGE matches the applied-changes
oracle; resume is idempotent; expire+orphans never touch live files."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.icelite.table import DATA, EQ_DELETES, FileEntry
from olake_spark.operators.cluster import _range_groups, run_cluster_rewrite
from olake_spark.operators.compact import plan_compaction, run_compaction
from olake_spark.operators.expire import run_expire
from olake_spark.operators.manifests import rewrite_manifests
from olake_spark.operators.merge import apply_changes_oracle, merge_into
from olake_spark.verify import row_sets_equal, verify_table_scan

N = 400
TARGET = 2 * 1024 * 1024  # small target so tiny fixtures actually bin-pack


@pytest.fixture()
def fragmented_table(spark, tmp_table_dir):
    t = Table.create(
        spark,
        os.path.join(tmp_table_dir, "frag"),
        datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 2),)),
        identifier_fields=("image_id",),
        properties={"write.target-file-size-bytes": str(TARGET)},
    )
    datagen.fragmented_append(t, datagen.gen_images_df(spark, N), N, n_files=40)
    return t


def data_files(t):
    return [e for e in t.entries() if e.content == DATA]


class TestCompaction:
    def test_rowset_preserved_and_files_shrink(self, spark, fragmented_table):
        t = fragmented_table
        before = t.scan().select("image_id", "caption", "phash")
        n_before = len(data_files(t))
        res = run_compaction(t, "job-c1", fill_ratio=1.0)
        assert res["bins_executed"] > 0
        assert len(data_files(t)) < n_before
        after = t.scan().select("image_id", "caption", "phash")
        assert row_sets_equal(before, after)

    def test_compaction_purges_equality_deletes(self, spark, fragmented_table):
        t = fragmented_table
        keys = spark.createDataFrame(
            [(f"img-{i:012d}",) for i in range(20)], ["image_id"]
        )
        t.row_delta(None, keys)
        assert any(e.content == EQ_DELETES for e in t.entries())
        before = t.scan().select("image_id", "phash")
        run_compaction(t, "job-c2", fill_ratio=1.0)
        # compacted files no longer need delete reconciliation for their rows
        after = t.scan().select("image_id", "phash")
        assert row_sets_equal(before, after)
        assert after.count() == N - 20

    def test_resume_skips_done_bins(self, spark, fragmented_table,
                                    tmp_table_dir, monkeypatch):
        """Kill a compaction at its second group's commit, after the first
        group's log append: the rerun executes only the remaining bins and
        leaves the first group's output live. Equality deletes on every
        other row halve that output, so a plan from scratch would pack it
        again with the rest of its partition."""
        from olake_spark.operators import compact

        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = fragmented_table
        t.row_delta(None, spark.createDataFrame(
            [(f"img-{i:012d}",) for i in range(0, N, 2)], ["image_id"]
        ))
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "mlog"))
        expected = t.scan().select("image_id", "phash")
        n_bins = len(plan_compaction(t, TARGET, fill_ratio=1.0))
        assert n_bins > 1
        live_before = {e.file_path for e in data_files(t)}
        rewrite_files, calls = t.rewrite_files, []

        def crash_at_second_commit(*a, **kw):
            calls.append(1)
            if len(calls) == 2:
                raise OSError("injected crash at the second group's commit")
            return rewrite_files(*a, **kw)

        with monkeypatch.context() as m:
            m.setattr(t, "rewrite_files", crash_at_second_commit)
            with pytest.raises(OSError, match="injected crash"):
                run_compaction(t, "job-r", log=log, fill_ratio=1.0)
        t.refresh()
        first = {e.file_path for e in data_files(t)} - live_before
        assert first and len(log.done_chunk_ids("job-r")) == 1

        r2 = run_compaction(t, "job-r", log=log, fill_ratio=1.0)
        assert r2["bins_executed"] == r2["bins_planned"] == n_bins - 1
        assert first <= {e.file_path for e in data_files(t)}
        assert row_sets_equal(expected, t.scan().select("image_id", "phash"))
        assert len(log.done_chunk_ids("job-r")) == n_bins

    def test_resume_keeps_out_only_the_stopped_run(self, spark,
                                                   fragmented_table,
                                                   monkeypatch):
        """A job id reused every night: after a stopped night, the resume
        keeps that night's output out of its plan, but not the output of
        the job's earlier finished nights."""
        from olake_spark.operators import compact

        monkeypatch.setattr(compact, "COMMIT_GROUP", 1)
        t = fragmented_table
        assert run_compaction(t, "nightly", fill_ratio=1.0)["bins_executed"] > 0
        assert compact._resume_exclude(t, "nightly") == set()
        datagen.fragmented_append(
            t, datagen.gen_images_df(spark, 2 * N).filter(
                F.col("image_id") >= f"img-{N:012d}"
            ), N, n_files=40,
        )
        expected = t.scan().select("image_id", "phash")
        before = {e.file_path for e in data_files(t)}
        rewrite_files, calls = t.rewrite_files, []

        def crash_at_second_commit(*a, **kw):
            calls.append(1)
            if len(calls) == 2:
                raise OSError("injected crash at the second group's commit")
            return rewrite_files(*a, **kw)

        with monkeypatch.context() as m:
            m.setattr(t, "rewrite_files", crash_at_second_commit)
            with pytest.raises(OSError, match="injected crash"):
                run_compaction(t, "nightly", fill_ratio=1.0)
        t.refresh()
        stopped = {e.file_path for e in data_files(t)} - before
        assert stopped and compact._resume_exclude(t, "nightly") == stopped
        assert run_compaction(t, "nightly", fill_ratio=1.0)["bins_executed"] > 0
        assert compact._resume_exclude(t, "nightly") == set()
        assert row_sets_equal(expected, t.scan().select("image_id", "phash"))

    def test_plan_is_metadata_only(self, fragmented_table):
        bins = plan_compaction(fragmented_table, TARGET, fill_ratio=1.0)
        assert bins and all(b.total_bytes <= TARGET for b in bins)
        # bins never mix partitions (rewrites stay partition-local)
        for b in bins:
            parts = {json.dumps(f.partition, sort_keys=True) for f in b.files}
            assert len(parts) == 1


class TestEncodedRoot:
    """Spark reports row file locations as URIs, so a root named
    `a b%c+d é` reads back percent-encoded; every path comparison against
    the manifests must decode them."""

    def test_deletes_compaction_and_bloom(self, spark, tmp_table_dir):
        from olake_spark.icelite.bloom import (bloom_file_filter,
                                               build_bloom_index, point_lookup)
        from olake_spark.operators.compact import rewrite_position_deletes

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "a b%c+d é"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 2),)),
            identifier_fields=("image_id",),
        )
        datagen.fragmented_append(t, datagen.gen_images_df(spark, N), N, n_files=20)
        num = "cast(substring(image_id, 5, 12) as bigint)"
        expected = t.scan().select("image_id", "phash").filter(f"{num} % 10 > 1")
        for r in (0, 1):
            assert t.delete_where(f"{num} % 10 = {r}")["rows_deleted"] == N // 10
        assert row_sets_equal(expected, t.scan().select("image_id", "phash"))

        res = rewrite_position_deletes(t)
        assert res["rewritten_files"] == 2 and res["kept_marks"] == 2 * N // 10
        assert row_sets_equal(expected, t.scan().select("image_id", "phash"))

        res = run_compaction(t, "enc", fill_ratio=1.0, target_bytes=TARGET)
        assert res["bins_executed"] > 1  # bins of both buckets in one job
        assert row_sets_equal(expected, t.scan().select("image_id", "phash"))

        build_bloom_index(t, "image_id")
        key = "img-000000000002"
        assert len(bloom_file_filter(t, "image_id", [key])) == 1
        assert [r.image_id for r in point_lookup(t, "image_id", [key]).collect()] == [key]


class TestClustering:
    @pytest.mark.parametrize("curve", ["zorder", "hilbert"])
    def test_rowset_preserved(self, spark, fragmented_table, curve):
        t = fragmented_table
        before = t.scan().select("image_id", "caption", "phash")
        res = run_cluster_rewrite(t, f"job-{curve}", curve=curve, target_bytes=TARGET)
        assert res["rows"] == N
        assert row_sets_equal(before, t.scan().select("image_id", "caption", "phash"))

    def test_phash_minmax_tighten(self, spark, fragmented_table):
        t = fragmented_table

        def overlap_score():
            ents = data_files(t)
            spans = [
                (e.mins["phash"], e.maxs["phash"])
                for e in ents
                if "phash" in e.mins and "phash" in e.maxs
            ]
            total = sum(hi - lo for lo, hi in spans)
            return total / max(1, len(spans))

        before = overlap_score()
        run_cluster_rewrite(t, "job-z2", curve="zorder", target_bytes=TARGET // 4)
        after = overlap_score()
        # clustering by a phash-prefixed curve must tighten per-file phash spans
        assert after < before


class TestClusterLayout:
    """The rewrite writes k_b = ceil(bytes_b / target) key-contiguous files
    per table partition, one task each. The fixture makes the curve key
    monotone in phash: one image size (w, h constant) under Z-order, and a
    uniform phash (xxhash64 of the id) with no hot prefix, so no coarse-key
    tie straddles a cut. Slice contiguity then shows as phash spans."""

    N = 400

    @pytest.fixture()
    def table4(self, spark, tmp_table_dir):
        t = Table.create(
            spark,
            os.path.join(tmp_table_dir, "b4"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        df = datagen.gen_images_df(spark, self.N, img_px=8).withColumn(
            "phash", F.xxhash64("image_id")
        )
        datagen.fragmented_append(t, df, self.N, n_files=40)
        return t

    @staticmethod
    def by_partition(t):
        out = {}
        for e in data_files(t):
            out.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)
        return out

    def test_one_contiguous_file_per_slice(self, spark, table4):
        t = table4
        before = t.scan().select("image_id", "caption", "phash")
        part_bytes = {
            p: sum(e.file_size_bytes for e in es)
            for p, es in self.by_partition(t).items()
        }
        assert len(part_bytes) == 4
        # about 3.5 target-sized slices in the largest partition: 4 each
        target = int(max(part_bytes.values()) / 3.5)
        k = {p: math.ceil(b / target) for p, b in part_bytes.items()}
        res = run_cluster_rewrite(t, "layout", curve="zorder", target_bytes=target)
        assert res["files_out"] == sum(k.values())
        assert row_sets_equal(before, t.scan().select("image_id", "caption", "phash"))

        vals: dict[str, list[int]] = {}
        for r in t.scan(columns=["phash"], with_partition_cols=True).collect():
            p = json.dumps({"_p_image_id_bucket4": str(r["_p_image_id_bucket4"])})
            vals.setdefault(p, []).append(r["phash"])
        after = self.by_partition(t)
        assert {p: len(es) for p, es in after.items()} == k
        for p, files in after.items():
            spans = sorted((e.mins["phash"], e.maxs["phash"]) for e in files)
            # disjoint: every file starts after the previous one ends
            assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
            # a phash range holding 1/k_b of the partition's rows opens at
            # most 2 of its files, wherever it sits
            v = sorted(vals[p])
            m = len(v) // k[p]
            for j in range(len(v) - m + 1):
                lo, hi = v[j], v[j + m - 1]
                opened = [s for s in spans if s[1] >= lo and s[0] <= hi]
                assert len(opened) <= 2, (p, lo, hi, spans)

    def test_sampled_cuts_keep_rows_and_partitions(self, spark, table4):
        t = table4
        before = t.scan().select("image_id", "caption", "phash")
        parts = set(self.by_partition(t))
        target = int(max(
            sum(e.file_size_bytes for e in es) for es in self.by_partition(t).values()
        ) / 3.5)
        # 20 sampled rows over 4 partitions: frac = 0.05, some partitions
        # get one cut or none
        res = run_cluster_rewrite(
            t, "sampled", curve="zorder", target_bytes=target, boundary_sample_rows=20
        )
        assert res["rows"] == self.N
        assert row_sets_equal(before, t.scan().select("image_id", "caption", "phash"))
        assert set(self.by_partition(t)) == parts


class TestRangeGroups:
    """`_range_groups` on a hand-made sample: k_b from manifest bytes, cuts
    at the sampled ranks where each slice starts."""

    def sample(self, spark):
        rows = [("0", i) for i in range(10)] + [("1", i) for i in range(30)]
        return spark.createDataFrame(rows, "_pk0 string, _skey bigint")

    @staticmethod
    def entry(partition, size):
        return FileEntry(DATA, "f", partition, 1, 1, size, {}, {}, {})

    def test_cuts_from_manifest_bytes(self, spark):
        entries = [self.entry({"p": "0"}, 900), self.entry({"p": "1"}, 2500)]
        lookup, n = _range_groups(self.sample(spark), entries, ["p"], 1000)
        assert n == 1 + 3
        assert [tuple(r) for r in lookup.orderBy("_off").collect()] == [
            ("0", 0, []), ("1", 1, [10, 20]),
        ]

    def test_old_layout_bytes_spread_by_sampled_rows(self, spark):
        # a file written under an older spec has no current partition: its
        # bytes follow the sampled rows (1:3), so the big partition still
        # gets target-sized slices instead of one task
        entries = [self.entry({"old": "x"}, 4000)]
        lookup, n = _range_groups(self.sample(spark), entries, ["p"], 1000)
        assert n == 1 + 3
        assert [tuple(r) for r in lookup.orderBy("_off").collect()] == [
            ("0", 0, []), ("1", 1, [10, 20]),
        ]


class TestMerge:
    @pytest.fixture()
    def base_table(self, spark, tmp_table_dir):
        t = Table.create(
            spark,
            os.path.join(tmp_table_dir, "merge"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 2),)),
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 200))
        return t

    def test_merge_matches_oracle(self, spark, base_table):
        t = base_table
        base = t.scan().select("image_id", "caption", "phash")
        changes = datagen.gen_changes_df(spark, base_n=200, n_changes=100)
        expected = apply_changes_oracle(
            base, changes.select("image_id", "caption", "phash", "_op_type", "_cdc_timestamp"),
            ["image_id"],
        )
        merge_into(t, changes)
        got = t.scan().select("image_id", "caption", "phash")
        assert row_sets_equal(expected, got)

    def test_same_ts_tie_delete_wins(self, spark, base_table):
        # c → u → d burst at one timestamp: op-priority rule says DELETE wins
        # (IcebergTableOperator.java:70-141)
        t = base_table
        changes = datagen.gen_changes_df(spark, base_n=200, n_changes=100)
        bursts = changes.groupBy("image_id").count().filter("count = 3")
        burst_ids = [r["image_id"] for r in bursts.collect()]
        assert burst_ids
        merge_into(t, changes)
        assert t.scan().filter(F.col("image_id").isin(burst_ids)).count() == 0

    def test_merge_is_single_atomic_snapshot(self, spark, base_table):
        t = base_table
        n_snaps = len(t.snapshots())
        merge_into(t, datagen.gen_changes_df(spark, base_n=200, n_changes=50))
        assert len(t.snapshots()) == n_snaps + 1
        assert t.snapshot()["operation"] == "rowdelta"

    def test_merge_then_compact_keeps_rowset(self, spark, base_table):
        t = base_table
        merge_into(t, datagen.gen_changes_df(spark, base_n=200, n_changes=100))
        before = t.scan().select("image_id", "caption")
        run_compaction(t, "after-merge", fill_ratio=1.0, target_bytes=TARGET)
        assert row_sets_equal(before, t.scan().select("image_id", "caption"))


def _manifest_partitions(t) -> list[list[str]]:
    """Partition keys of the current snapshot's entries, per manifest, in
    manifest-list and in-manifest order."""
    from olake_spark.icelite.table import _read_manifest

    return [
        [json.dumps(e.partition, sort_keys=True) for e in _read_manifest(t._abs(m))]
        for m in t.snapshot()["manifests"]
    ]


def _assert_packed(t, n_entries: int, target: int) -> None:
    """ceil(entries / target) manifests, every one full but the last, and
    each partition value one contiguous run across the manifest list."""
    per_manifest = _manifest_partitions(t)
    assert len(per_manifest) == math.ceil(n_entries / target)
    assert [len(p) for p in per_manifest[:-1]] == [target] * (len(per_manifest) - 1)
    flat = [k for p in per_manifest for k in p]
    assert len(flat) == n_entries
    runs = [k for i, k in enumerate(flat) if i == 0 or k != flat[i - 1]]
    assert len(runs) == len(set(runs))


class TestManifestRewrite:
    def test_rewrite_packs_across_partitions_and_audits(self, fragmented_table):
        t = fragmented_table
        before = t.scan().select("image_id", "phash")
        n_entries = len(t.entries())
        res = rewrite_manifests(t, target_entries=10, audit=True)
        assert res["audited"] > 0
        assert res["manifests_after"] == math.ceil(n_entries / 10)
        _assert_packed(t, n_entries, 10)
        assert row_sets_equal(before, t.scan().select("image_id", "phash"))

    def test_packing_settles_the_autopilot(self, spark, tmp_table_dir):
        """24 buckets, 3 appends: one manifests action leaves
        ceil(entries / target) manifests — not one per bucket — and the
        autopilot stops scheduling manifest rewrites."""
        from olake_spark.operators.autopilot import (_run_action,
                                                     plan_maintenance)

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "mf24"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 24),)),
            identifier_fields=("image_id",),
        )
        for k in range(3):
            t.append(
                datagen.gen_images_df(spark, 40).withColumn(
                    "image_id", F.concat(F.lit(f"a{k}-"), F.col("image_id"))
                ),
                max_records_per_file=2,
            )
        before = t.scan().select("image_id", "phash").localCheckpoint()
        n_entries = len(t.entries())
        assert n_entries > 24 and len(t.snapshot()["manifests"]) == 3

        def manifest_actions(policy):
            return [a for a in plan_maintenance(t, policy) if a["op"] == "manifests"]

        pol = {"manifests.max-count": 2}
        (act,) = manifest_actions(pol)
        res = _run_action(t, "mf24", act, None, False)
        assert res["manifests_after"] == 1
        assert manifest_actions(pol) == []

        # a table bigger than max-count × target: one rewrite to
        # ceil(entries / target) manifests, then nothing left to schedule
        res = rewrite_manifests(t, target_entries=7)
        assert res["manifests_after"] == math.ceil(n_entries / 7) > 2
        _assert_packed(t, n_entries, 7)
        assert manifest_actions({**pol, "manifests.target-entries": 7}) == []
        assert row_sets_equal(before, t.scan().select("image_id", "phash"))

    def test_manifest_written_without_column_stats(self, tmp_path):
        import pyarrow.parquet as pq

        from olake_spark.icelite.table import _read_manifest, _write_manifest

        entries = [
            FileEntry(DATA, f"data/f{i}.parquet", {"b": str(i % 3)}, 1, 10, 100,
                      {"phash": i}, {"phash": i + 5}, {"phash": 0})
            for i in range(6)
        ]
        path = str(tmp_path / "mf.parquet")
        _write_manifest(path, entries)
        md = pq.ParquetFile(path).metadata
        cols = [
            md.row_group(g).column(c)
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        ]
        assert cols and not any(c.is_stats_set for c in cols)
        assert _read_manifest(path) == entries


class TestExpireAndOrphans:
    def test_full_lifecycle(self, spark, fragmented_table):
        t = fragmented_table
        run_compaction(t, "lc", fill_ratio=1.0)
        rows = t.scan().select("image_id", "phash")
        n_files_before_reap = sum(
            len(files) for _, _, files in os.walk(os.path.join(t.root, "data"))
        )
        res = run_expire(t, keep_last=1, grace_seconds=0.0)
        assert res["snapshots_expired"] >= 1
        assert res["orphans_removed"] > 0
        n_files_after = sum(
            len(files) for _, _, files in os.walk(os.path.join(t.root, "data"))
        )
        assert n_files_after < n_files_before_reap
        # live data intact
        assert row_sets_equal(rows, t.scan().select("image_id", "phash"))

    def test_grace_period_protects_recent_files(self, fragmented_table):
        t = fragmented_table
        run_compaction(t, "lc2", fill_ratio=1.0)
        t.expire_snapshots(keep_last=1)
        # everything is recent → nothing reaped under a long grace window
        assert t.remove_orphan_files(grace_seconds=3600, dry_run=True) == []


class TestVerify:
    def test_full_scan_verifies(self, spark, fragmented_table):
        t = fragmented_table
        run_compaction(t, "v", fill_ratio=1.0)
        run_cluster_rewrite(t, "v2", curve="hilbert", target_bytes=TARGET)
        s = verify_table_scan(t.scan())
        assert s["rows"] == N
        assert s["pixel_failures"] == 0
        assert s["caption_failures"] == 0
        assert s["min_psnr_db"] >= 40.0


class TestDistributedAudit:
    def test_manifest_audit_routes_through_bulk_stats_harvest(
        self, spark, tmp_table_dir, monkeypatch
    ):
        """The stats audit must be ONE collect_file_stats harvest (executor
        RDD above the threshold), never a serial per-file driver loop: force
        the distribute threshold to 1 so the RDD path itself is exercised,
        and count harvest calls."""
        import olake_spark.icelite.stats as stats_mod
        import olake_spark.operators.manifests as mf_mod
        from olake_spark import datagen
        from olake_spark.icelite import Table

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "audit"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 40), max_records_per_file=10)

        calls = []
        real = stats_mod.collect_file_stats

        def counting(spark_, paths, **kw):
            calls.append(len(paths))
            return real(spark_, paths, **kw)

        monkeypatch.setattr(stats_mod, "_DISTRIBUTE_THRESHOLD", 1)
        monkeypatch.setattr(mf_mod, "collect_file_stats", counting)
        res = mf_mod.rewrite_manifests(t, target_entries=8, audit=True)
        assert res["audited"] >= 4
        assert len(calls) == 1 and calls[0] == res["audited"]
