"""Physical-plan assertions: the optimizations the design claims must be
visible in the executed plans, not just intended. (SURVEY.md §4.)"""

import os

import pytest
from pyspark.sql import functions as F

from olake_spark import datagen
from olake_spark.icelite import PartitionField, PartitionSpec, Table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def small_table(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plans")
    t = Table.create(
        spark, os.path.join(str(d), "t"), datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 2),)),
        identifier_fields=("image_id",),
    )
    t.append(datagen.gen_images_df(spark, 100, parallelism=4))
    return t


class TestScanPlans:
    def test_compact_bin_scan_has_no_exchange(self, spark, small_table):
        # a single-file bin rewrite is scan→coalesce→write: zero shuffles
        ents = [e for e in small_table.entries() if e.content == 0]
        df = small_table.scan(file_filter={ents[0].file_path}).coalesce(1)
        assert "Exchange" not in plan_of(df)

    def test_delete_reconciliation_broadcasts_small_side(self, spark, small_table):
        keys = spark.createDataFrame([(f"img-{i:012d}",) for i in range(5)],
                                     ["image_id"])
        small_table.row_delta(None, keys)
        plan = plan_of(small_table.scan())
        assert "BroadcastHashJoin" in plan  # small delete set → broadcast

    def test_column_projection_reaches_parquet(self, spark, small_table):
        plan = plan_of(small_table.scan(columns=["image_id", "phash"]))
        assert "bytes" not in plan

    def test_predicate_pushed_to_parquet(self, spark, small_table):
        df = small_table.scan(predicates=[("phash", ">=", 0)])
        plan = plan_of(df.select("image_id"))
        assert "PushedFilters: [" in plan and "phash" in plan.split("PushedFilters")[1][:200]


class TestOperatorPlans:
    def test_knn_broadcasts_queries(self, spark):
        from olake_spark.operators.ann import knn_bruteforce

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        df = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 3),
                            "vec_id", "embedding", k=3)
        assert "BroadcastNestedLoopJoin" in plan_of(df) or "BroadcastHashJoin" in plan_of(df)

    def test_text_kernels_are_codegen(self, spark):
        from olake_spark.functions import text as T

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = d.select(T.token_count_col("text"), T.fingerprint_col("text"))
        plan = plan_of(df)
        # pure JVM expressions: no Python evaluation node of either kind,
        # and only the text column is read from parquet
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "ReadSchema: struct<text:string>" in plan

    def test_cluster_key_is_arrow_udf(self, spark):
        # the curve kernels are REQUIRED to be Arrow-vectorized (north star);
        # assert they run as ArrowEvalPython, not row-at-a-time BatchEvalPython
        from olake_spark.functions.zorder import hilbert_key_col

        df = datagen.gen_images_df(spark, 10).select(
            hilbert_key_col(F.col("phash"), F.col("w"), F.col("h")).alias("k")
        )
        plan = plan_of(df)
        assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan

    def test_dedup_exact_partial_aggregation(self, spark):
        from olake_spark.operators.dedup import dedup_exact

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(dedup_exact(d, "doc_id", "text"))
        # map-side partial agg before the exchange (two HashAggregate levels)
        assert plan.count("HashAggregate") >= 2

    def test_embedding_near_dup_has_no_cartesian(self, spark):
        # the scale-killer fixed in round 2: the exact near-dup pair search
        # must run as blocked cogrouped matmuls, never an n×n join
        from olake_spark.operators.dedup import embedding_near_dup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        df = embedding_near_dup(emb, "vec_id", "embedding", 400_000)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapCoGroupsInPandas" in plan

    def test_simhash_is_pure_catalyst(self, spark):
        from olake_spark.operators.dedup import simhash_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(simhash_pairs(d, "doc_id", "text"))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_backfill_routing_no_global_window(self, spark):
        """Round-2 verdict #7: the PRODUCTION backfill path (plan_chunks /
        plan_chunks_multi boundaries + route_to_chunks routing) must contain
        no global unpartitioned Window — chunk membership is pure narrow
        expressions. (The s2/s7 gate queries' ntile/row_number windows are
        semantics pins of the reference planner's OUTPUT, not this path.)"""
        from olake_spark.sync import (plan_chunks, plan_chunks_multi,
                                      route_to_chunks)

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        single = route_to_chunks(ev, ["event_id"],
                                 plan_chunks(ev, "event_id", 8))
        multi = route_to_chunks(
            ev, ["event_type", "event_id"],
            plan_chunks_multi(ev, ["event_type", "event_id"], 8),
        )
        for df in (single, multi):
            plan = plan_of(df)
            assert "Window" not in plan
            assert "Exchange" not in plan  # routing is narrow: no shuffle

    def test_ivf_production_plan_no_cartesian(self, spark):
        """knn_ivf's production path (numpy assign): no CartesianProduct
        anywhere — assignment is a narrow Arrow UDF, the posting-list probe
        join hash-joins on the cell id."""
        from olake_spark.operators.ann import knn_ivf

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        df = knn_ivf(emb, emb.filter(F.col("vec_id") < 3), "vec_id",
                     "embedding", k=3, n_cells=8, nprobe=2)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan

    def test_connected_components_rounds_are_hash_joins(self, spark):
        """Each hash-min round is a plain equi-join + hash aggregate —
        no cartesian, no broadcast of the (corpus-sized) label side."""
        from olake_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 20, 2)], ["id_a", "id_b"]
        )
        plan = plan_of(connected_components(pairs))
        assert "CartesianProduct" not in plan


class TestShufflePlacement:
    """The cluster rewrite and the bulk compaction place rows with a direct
    shuffle (`repartitionById`): the group / bin id IS the task id. A hash
    shuffle on the id lets two groups collide in one task — a straggler,
    and for clustering one file spanning two key ranges."""

    @pytest.fixture()
    def write_plans(self, spark, tmp_table_dir, monkeypatch):
        from pyspark.sql import DataFrameWriter

        plans = []
        orig = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            plans.append(plan_of(self._df))
            return orig(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "t"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 2),)),
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 40), max_records_per_file=4)
        plans.clear()
        return t, plans

    @staticmethod
    def assert_direct(plans):
        shuffled = [p for p in plans if "Exchange" in p]
        assert len(shuffled) == 1, plans
        assert "direct_shuffle_partition_id" in shuffled[0]
        assert "hashpartitioning" not in shuffled[0]

    def test_cluster_rewrite_is_direct_shuffle(self, write_plans):
        from olake_spark.operators.cluster import run_cluster_rewrite

        t, plans = write_plans
        run_cluster_rewrite(t, "pin", curve="hilbert", target_bytes=4096)
        self.assert_direct(plans)

    def test_bulk_compaction_is_direct_shuffle(self, write_plans):
        from olake_spark.operators.compact import run_compaction

        t, plans = write_plans
        res = run_compaction(t, "pin", fill_ratio=1.0, target_bytes=1 << 30)
        assert res["bins_executed"] == 2
        self.assert_direct(plans)

    def test_bulk_compaction_bin_map_is_local(self, write_plans):
        """The broadcast file→bin map is built through Arrow from pandas:
        a LocalTableScan, not a Python RDD (`Scan ExistingRDD`) whose
        broadcast runs a Python-worker job."""
        from olake_spark.operators.compact import run_compaction

        t, plans = write_plans
        run_compaction(t, "pin", fill_ratio=1.0, target_bytes=1 << 30)
        assert plans
        assert all("ExistingRDD" not in p for p in plans), plans
        assert any("LocalTableScan" in p for p in plans), plans

    def test_one_bin_compaction_is_direct_shuffle(self, spark, tmp_table_dir, write_plans):
        from olake_spark.operators.compact import run_compaction

        _, plans = write_plans
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "u"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 40), max_records_per_file=4)
        plans.clear()
        res = run_compaction(t, "pin", fill_ratio=1.0, target_bytes=1 << 30)
        assert res["bins_planned"] == res["bins_executed"] == 1
        # the bulk path, not a shuffle-free coalesce(1): Spark plans
        # repartitionById into one partition as a SinglePartition exchange
        shuffled = [p for p in plans if "Exchange" in p]
        assert len(shuffled) == 1, plans
        assert "Exchange SinglePartition, REPARTITION_BY_NUM" in shuffled[0]
        assert "hashpartitioning" not in shuffled[0]

    def test_backfill_is_direct_shuffle(self, spark, write_plans):
        from olake_spark.sync import backfill

        t, plans = write_plans
        res = backfill(t, datagen.gen_images_df(spark, 40), "phash", "pin", n_chunks=4)
        assert res["chunks_executed"] > 1
        self.assert_direct(plans)


class TestRowLevelOpPlans:
    def test_pos_delete_scan_broadcasts_marks(self, spark, small_table):
        """A scan under positional deletes applies the (file_path, pos)
        marks as a BROADCAST anti-join (delete side ≪ table side at any
        scale that matters) — never a shuffled join of the fat rows."""
        t = small_table
        t.delete_where("cast(substring(image_id, 5, 12) as bigint) % 10 = 0")
        plan = plan_of(t.scan(columns=["image_id"]))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan
        # cleanup for other module-scoped users: fold the marks back in
        from olake_spark.operators.compact import run_compaction
        run_compaction(t, "plan-clean", fill_ratio=1.0)

    def test_changelog_delete_images_join_is_broadcast(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("clogplan")
        t = Table.create(
            spark, os.path.join(str(d), "t"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 60, parallelism=2))
        start = t.current_snapshot_id
        t.delete_where("cast(substring(image_id, 5, 12) as bigint) < 10")
        plan = plan_of(t.changelog_scan(start))
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "CartesianProduct" not in plan


class TestRound3LatePlans:
    def test_gopher_rules_pure_catalyst(self, spark):
        from olake_spark.functions import text as T

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(d.select("doc_id", *T.gopher_rules_cols("text")))
        assert "EvalPython" not in plan  # no Python anywhere in the plan
        assert "Exchange" not in plan  # map-only: scan → project

    def test_pack_sequences_single_bucket_shuffle(self, spark):
        from olake_spark.functions import text as T
        from olake_spark.operators import pack

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(
            pack.pack_sequences(d, "doc_id", T.token_count_col("text"), 256)
        )
        # exactly ONE exchange (the bucket repartition); the per-bucket
        # recurrence runs as grouped pandas over Arrow
        assert plan.count("Exchange") == 1
        assert "FlatMapGroupsInPandas" in plan

    def test_stream_source_plans_metadata_only(self, spark, tmp_table_dir):
        # partitions() must touch manifests/metadata only: no Spark job,
        # no data-file read on the driver planning path
        from olake_spark.streaming.table_source import IceliteStreamReader

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "t"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 40), max_records_per_file=10)
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup() or [])
        r = IceliteStreamReader(t.schema, {"path": t.root})
        parts = r.partitions(r.initialOffset(), r.latestOffset())
        after = len(tracker.getJobIdsForGroup() or [])
        assert len(parts) == 4
        assert after == before  # zero jobs: pure metadata planning

    def test_changelog_stream_plans_metadata_only(self, spark,
                                                  tmp_table_dir):
        # the delete-aware mode keeps the same contract: partitions() for a
        # window carrying pos-deletes AND eq-deletes plans from manifests
        # alone — zero Spark jobs; before-image reads happen executor-side
        from olake_spark.streaming.table_source import IceliteStreamReader

        t = Table.create(
            spark, os.path.join(tmp_table_dir, "tc"), datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 40), max_records_per_file=10)
        start = t.current_snapshot_id
        t.delete_where("image_id like '%3'")
        keys = datagen.gen_images_df(spark, 5)
        t.row_delta(keys, keys.select("image_id"))
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup() or [])
        r = IceliteStreamReader(
            t.schema, {"path": t.root, "mode": "changelog",
                       "starting": str(start)},
        )
        parts = r.partitions(r.initialOffset(), r.latestOffset())
        after = len(tracker.getJobIdsForGroup() or [])
        kinds = sorted({p.kind for p in parts})
        assert kinds == ["delete_keys", "delete_pos", "insert"]
        assert after == before  # zero jobs: pure metadata planning

    def test_sessionize_single_shuffle_no_python(self, spark):
        from olake_spark.operators.sessionize import sessionize

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = plan_of(sessionize(e, "user_id", "ts", "event_id", 3600))
        # all four windows key on user (or user+session) → ONE exchange
        assert plan.count("Exchange") == 1
        assert "EvalPython" not in plan

    def test_bm25_prunes_before_explode_and_broadcasts_df(self, spark):
        from olake_spark.operators.retrieval import bm25_topk

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(bm25_topk(d, "doc_id", "text", "spark table", k=5))
        assert "EvalPython" not in plan
        assert "TakeOrderedAndProject" in plan  # top-k, never a full sort
        assert "BroadcastHashJoin" in plan  # df/idf + stats ride broadcasts


def test_overwrite_delete_side_is_metadata_only(spark, tmp_table_dir):
    # the replace's DELETE side must cost zero Spark jobs: an overwrite of
    # the same DataFrame runs exactly the jobs a plain append runs (the
    # staging write) — file removal is pure manifest arithmetic. At 100 TB
    # the replaced partitions' old files are never read or listed by a job.
    from olake_spark import datagen
    from olake_spark.icelite import PartitionField, PartitionSpec, Table

    tracker = spark.sparkContext.statusTracker()
    tag = {"n": 0}

    def jobs(fn):
        # count within a FRESH job group: the default-group delta would be
        # corrupted whenever the status store evicts retained jobs mid-test
        # (this suite runs thousands of jobs per session)
        tag["n"] += 1
        group = f"ovw-pin-{tag['n']}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            fn()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group) or [])

    def mk(name):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, name), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        t.append(datagen.gen_images_df(spark, 30), max_records_per_file=5)
        return t

    ta, tb = mk("a"), mk("b")
    repl = datagen.gen_images_df(spark, 4).filter("fmt = 'png'")
    append_jobs = jobs(lambda: tb.append(repl))
    overwrite_jobs = jobs(lambda: ta.overwrite_partitions(repl))
    assert overwrite_jobs == append_jobs
