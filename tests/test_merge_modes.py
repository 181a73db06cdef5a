"""MERGE INTO modes: keep-deletes tombstones (the reference's
`upsert-keep-deletes`, iceberg_utils.go:180) and cluster-rewrite resume."""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import PartitionSpec, Table
from olake_spark.operators.cluster import run_cluster_rewrite
from olake_spark.operators.merge import dedup_changes, merge_into


@pytest.fixture()
def tombstone_table(spark, tmp_table_dir):
    # destination schema WITH the OLake metadata columns, as the reference's
    # Iceberg tables carry them (DefaultColumns, abstract.go:29-34)
    t = Table.create(
        spark,
        os.path.join(tmp_table_dir, "tomb"),
        datagen.CHANGES_SCHEMA,
        PartitionSpec(()),
        identifier_fields=("image_id",),
    )
    base = datagen.gen_images_df(spark, 50).select(
        "*",
        F.lit("r").alias("_op_type"),
        F.lit("2025-12-01 00:00:00").cast("timestamp").alias("_cdc_timestamp"),
        F.lit("2025-12-01 00:00:00").cast("timestamp").alias("_olake_timestamp"),
    )
    t.append(base)
    return t


class TestTombstoneMerge:
    def test_deletes_become_tombstones(self, spark, tombstone_table):
        t = tombstone_table
        changes = datagen.gen_changes_df(spark, base_n=50, n_changes=40)
        merge_into(t, changes, keep_deletes=True)
        df = t.scan()
        # the distinct-id oracle: deletes are tombstones, so ids NEVER shrink
        # (test_utils.go:219-228 — "deletes are tombstones, count stays")
        survivors = dedup_changes(changes, ["image_id"])
        expected_ids = (
            t.scan(snapshot_id=t.snapshots()[0]["snapshot_id"])
            .select("image_id")
            .union(survivors.select("image_id"))
            .distinct()
            .count()
        )
        assert df.select(F.countDistinct("image_id")).collect()[0][0] == expected_ids
        tombs = df.filter(F.col("_op_type") == "d")
        assert tombs.count() > 0
        # tombstones keep the key, null the payload
        r = tombs.select("bytes", "caption", "phash").collect()[0]
        assert r["bytes"] is None and r["caption"] is None and r["phash"] is None

    def test_hard_delete_mode_shrinks(self, spark, tombstone_table):
        t = tombstone_table
        changes = datagen.gen_changes_df(spark, base_n=50, n_changes=40)
        merge_into(t, changes, keep_deletes=False)
        assert t.scan().filter(F.col("_op_type") == "d").count() == 0


class TestClusterResume:
    def test_done_chunk_skipped(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "cr"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 100))
        log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "crlog"))
        r1 = run_cluster_rewrite(t, "cjob", curve="zorder", log=log)
        assert r1["rows"] == 100
        r2 = run_cluster_rewrite(t, "cjob", curve="zorder", log=log)
        assert r2.get("skipped") is True

    def test_committed_job_skips_without_log_until_expired(self, spark,
                                                           tmp_table_dir):
        """The table's own cluster commit marks the job done: a rerun skips
        with no log while that commit's output holds every live row, and
        re-clusters once expiry has dropped that commit."""
        from olake_spark.operators.expire import run_expire

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "cr2"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 100))
        assert run_cluster_rewrite(t, "cjob", curve="zorder")["rows"] == 100
        assert run_cluster_rewrite(t, "cjob", curve="zorder").get("skipped") is True
        # deletes leave the clustered files in place: still done
        t.row_delta(None, spark.createDataFrame(
            [("img-000000000003",)], "image_id string"
        ))
        assert run_cluster_rewrite(t, "cjob", curve="zorder").get("skipped") is True
        run_expire(t, keep_last=1, grace_seconds=0)
        again = run_cluster_rewrite(t, "cjob", curve="zorder")
        assert again.get("skipped") is None and again["files_in"] > 0
        assert t.scan().count() == 99

    def test_reused_job_id_clusters_new_data(self, spark, tmp_table_dir):
        """A nightly job id reused without a log: data appended after the
        job's cluster commit is clustered by the next run."""
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "cr3"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 100))
        assert run_cluster_rewrite(t, "nightly", curve="zorder")["rows"] == 100
        # another curve is another chunk of the job
        assert run_cluster_rewrite(t, "nightly", curve="hilbert")["rows"] == 100
        t.append(datagen.gen_images_df(spark, 120).filter(
            F.col("image_id") >= "img-000000000100"
        ))
        again = run_cluster_rewrite(t, "nightly", curve="hilbert")
        assert again.get("skipped") is None and again["rows"] == 120
        assert run_cluster_rewrite(t, "nightly", curve="hilbert").get("skipped") is True
        assert t.scan().count() == 120


class TestPartialBatchGuard:
    def test_missing_data_column_raises_without_opt_in(self, spark, tmp_table_dir):
        """A change batch silently missing a table column must FAIL —
        delete-before-insert would otherwise null that column table-wide
        on upstream schema drift. Opt-in via allow_partial (what the P7
        exclusion path sets) null-fills deliberately."""
        t = Table.create(
            spark,
            os.path.join(tmp_table_dir, "partial"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec(()),
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 20))
        changes = datagen.gen_changes_df(spark, base_n=20, n_changes=8).drop(
            "caption"
        )
        with pytest.raises(ValueError, match="caption"):
            merge_into(t, changes)
        merge_into(t, changes, allow_partial=True)  # deliberate → null-fill
        touched = t.scan().filter(F.col("caption").isNull())
        assert touched.count() > 0


class TestSchemaDriftEvolution:
    """The reference's updateSchema drift handling (union-by-name +
    promotion lattice on conflict) through the merge path."""

    def test_new_column_evolves_and_lands(self, spark, tmp_table_dir):
        import os

        from olake_spark import datagen
        from olake_spark.icelite import Table

        t = Table.create(spark, os.path.join(tmp_table_dir, "ev"),
                         datagen.IMAGES_SCHEMA, identifier_fields=("image_id",))
        df = datagen.gen_images_df(spark, 40)
        t.append(df)
        ch = (
            df.limit(10)
            .withColumn("_op_type", F.lit("u"))
            .withColumn("_cdc_timestamp", F.lit(1))
            .withColumn("license", F.lit("cc-by"))  # upstream added a column
        )
        # default: unknown column silently dropped (projection contract)
        merge_into(t, ch, keep_deletes=False)
        assert "license" not in [f.name for f in t.schema.fields]
        # evolve: column joins the schema; old rows read NULL, new rows carry it
        merge_into(t, ch, keep_deletes=False, evolve=True)
        assert t.schema["license"].dataType.typeName() == "string"
        got = t.scan().select("image_id", "license")
        assert got.filter(F.col("license") == "cc-by").count() == 10
        assert got.filter(F.col("license").isNull()).count() == 30

    def test_type_conflict_promotes_via_lattice(self, spark, tmp_table_dir):
        import os

        from olake_spark.icelite import Table
        from pyspark.sql.types import (IntegerType, StringType, StructField,
                                       StructType)

        schema = StructType([
            StructField("k", StringType(), False),
            StructField("n", IntegerType(), True),
            StructField("_op_type", StringType(), True),
            StructField("_cdc_timestamp", IntegerType(), True),
        ])
        t = Table.create(spark, os.path.join(tmp_table_dir, "evt"), schema,
                         identifier_fields=("k",))
        t.append(spark.createDataFrame([("a", 1, "r", 0)], schema=schema))
        ch = spark.createDataFrame(
            [("b", 2 ** 40, "c", 1)], "k string, n long, _op_type string, "
            "_cdc_timestamp int",
        )
        merge_into(t, ch, evolve=True)
        assert t.schema["n"].dataType.typeName() == "long"  # int32 → int64
        rows = {r["k"]: r["n"] for r in t.scan().collect()}
        assert rows == {"a": 1, "b": 2 ** 40}
