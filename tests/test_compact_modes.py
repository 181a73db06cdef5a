"""Compaction executor (one Spark job for every bin): row-set preservation,
in-stream pixel verification, and predicate-scoped plans."""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.operators.compact import run_compaction
from olake_spark.operators.merge import merge_into
from olake_spark.verify import row_sets_equal

N = 300
TARGET = 1 << 21


def _table(spark, root):
    t = Table.create(
        spark, root, datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 2),)),
        identifier_fields=("image_id",),
    )
    datagen.fragmented_append(t, datagen.gen_images_df(spark, N), N, n_files=30)
    merge_into(t, datagen.gen_changes_df(spark, base_n=N, n_changes=60))
    return t


class TestExecutors:
    def test_bulk_equals_bins(self, spark, tmp_table_dir):
        ta = _table(spark, os.path.join(tmp_table_dir, "a"))
        expected = ta.scan().select("image_id", "caption", "phash")
        ra = run_compaction(ta, "a", fill_ratio=1.0, target_bytes=TARGET)
        assert ra["bins_executed"] > 1
        got_a = ta.scan().select("image_id", "caption", "phash")
        assert row_sets_equal(expected, got_a)

    def test_bulk_single_spark_job_rowcount(self, spark, tmp_table_dir):
        t = _table(spark, os.path.join(tmp_table_dir, "c"))
        n_before = t.scan().count()
        run_compaction(t, "c", fill_ratio=1.0, target_bytes=TARGET)
        assert t.scan().count() == n_before
        # post-compaction record_count sum equals live rows (deletes purged)
        assert t.total_records() == n_before


class TestVerifiedRewrite:
    def test_verify_passes_on_clean_data(self, spark, tmp_table_dir):
        t = _table(spark, os.path.join(tmp_table_dir, "v"))
        res = run_compaction(t, "v", fill_ratio=1.0, target_bytes=TARGET, verify=True)
        assert res["bins_executed"] > 0

    def test_verify_fails_on_corrupt_payload(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "vc"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        good = datagen.gen_images_df(spark, 50)
        bad = spark.createDataFrame(
            [("img-corrupt", b"not an image", 16, 16, "png", "x", 1)],
            datagen.IMAGES_SCHEMA,
        )
        t.append(good.unionByName(bad), max_records_per_file=10)
        with pytest.raises(Exception):
            run_compaction(t, "vc", fill_ratio=1.0, target_bytes=TARGET, verify=True)
        # and without verification the corrupt payload rides along untouched
        res = run_compaction(t, "vc2", fill_ratio=1.0, target_bytes=TARGET)
        assert res["bins_executed"] > 0
        assert t.scan().filter(F.col("image_id") == "img-corrupt").count() == 1


class TestFilteredCompaction:
    """RewriteDataFiles `filter` parity: predicate-scoped plans rewrite only
    files whose stats may match; everything else survives byte-identical."""

    def test_predicate_scopes_plan(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "f"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        datagen.fragmented_append(
            t, datagen.gen_images_df(spark, N), N, n_files=12
        )
        n_before = t.scan().count()

        def paths(part):
            return {
                e.file_path for e in t.entries()
                if e.partition.get("_p_fmt") == part
            }

        jpeg_before, png_before = paths("jpeg"), paths("png")
        assert len(png_before) > 1
        res = run_compaction(
            t, "f", fill_ratio=1.0, target_bytes=TARGET,
            predicates=[("fmt", "==", "png")],
        )
        assert res["bins_executed"] >= 1
        assert paths("jpeg") == jpeg_before
        assert len(paths("png")) < len(png_before)
        assert t.scan().count() == n_before

    def test_no_matching_files_is_noop(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "g"), datagen.IMAGES_SCHEMA,
            PartitionSpec(()), identifier_fields=("image_id",),
        )
        datagen.fragmented_append(
            t, datagen.gen_images_df(spark, 60), 60, n_files=6
        )
        before = {e.file_path for e in t.entries()}
        res = run_compaction(
            t, "g", fill_ratio=1.0, target_bytes=TARGET,
            predicates=[("fmt", "==", "tiff")],
        )
        assert res["bins_executed"] == 0
        assert {e.file_path for e in t.entries()} == before
