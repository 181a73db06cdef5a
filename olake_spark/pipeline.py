"""Deterministic image-table derivation from the `documents` fixture + the
end-to-end maintenance roundtrip used by __spark_entry__ and bench.py.

Why derive from `documents`: the driver's correctness gate compares our
Spark results against DuckDB SQL over the same parquet fixtures. Every
column of the derived table except `bytes` is expressible in both engines
with exact integer/string arithmetic, so a *full maintenance pipeline*
(fragmented write → MERGE INTO → compaction → clustering → manifest rewrite
→ snapshot expiry → scan) can be oracle-checked end-to-end: maintenance must
return exactly the derived row set. `bytes` (real encoded PNG/lossy images,
generated in executors) rides along through every rewrite but stays out of
the compared projection.

The phash derivation plants the FIXTURES.md hot-prefix skew (20% of rows
share the top-16-bit prefix 0xBEEF) so clustering exercises the salted
repartition path even in oracle runs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.icelite.table import EQ_DELETES
from olake_spark.operators.cluster import run_cluster_rewrite
from olake_spark.operators.compact import run_compaction
from olake_spark.operators.expire import run_expire
from olake_spark.operators.manifests import rewrite_manifests
from olake_spark.operators.merge import merge_into

HOT_PREFIX_SIGNED = (0xBEEF << 48) - (1 << 64)  # top-16-bits 0xBEEF as int64
MOD48 = 1 << 48
_NEW_ID_BASE = 10_000_000
_BURST_ID_BASE = 20_000_000

SCAN_COLS = ["image_id", "w", "h", "fmt", "caption", "phash"]

SCAN_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)

# one projection, two dialects — Spark SQL and DuckDB agree on every
# function used here, so the SAME text serves engine and oracle
_DERIVE_SQL = """
SELECT
  'img-' || lpad(CAST({id} AS STRING), 12, '0')          AS image_id,
  CAST(CASE {id} % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 32 END AS INTEGER) AS w,
  CAST(CASE {id} % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 32 END AS INTEGER) AS h,
  CASE WHEN {id} % 4 = 0 THEN 'jpeg' ELSE 'png' END        AS fmt,
  {caption}                                                AS caption,
  CAST(CASE WHEN {id} % 5 = 0
       THEN {hot} + ((n_chars * 131071 + {id} * 7919) % {mod48})
       ELSE n_chars * 131071 + {id} * 7919 END AS BIGINT)  AS phash
FROM documents
{where}
"""


def derive_images_sql(
    id_expr: str = "doc_id", caption_expr: str = "text", where: str = ""
) -> str:
    return _DERIVE_SQL.format(
        id=id_expr,
        caption=caption_expr,
        hot=HOT_PREFIX_SIGNED,
        mod48=MOD48,
        where=where,
    )


def _expected_post_merge_sql() -> str:
    """Oracle for the merged table: kept base rows (non-deleted, captions
    updated for doc_id%10=3) ∪ inserted rows (doc_id%10=5, shifted ids).
    The c→u→d same-timestamp bursts (doc_id%100=11) must NOT appear —
    DELETE wins the A1 op-priority tie."""
    kept = derive_images_sql(
        "doc_id",
        "CASE WHEN doc_id % 10 = 3 THEN 'updated ' || text ELSE text END",
        "WHERE doc_id % 10 <> 7",
    )
    inserted = derive_images_sql(
        f"(doc_id + {_NEW_ID_BASE})", "'inserted ' || text", "WHERE doc_id % 10 = 5"
    )
    return f"{kept} UNION ALL {inserted}"


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    for n in names:
        spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")).createOrReplaceTempView(n)


def _attach_bytes(df: DataFrame) -> DataFrame:
    """Add real encoded image bytes (executor-side, deterministic per id)."""
    schema = StructType(
        [f for f in datagen.IMAGES_SCHEMA.fields]  # canonical column order
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from olake_spark.functions.imagecodec import encode_image

        for b in batches:
            blobs = []
            for iid, w, h, fmt in zip(b["image_id"], b["w"], b["h"], b["fmt"]):
                i = int(iid.split("-")[-1])
                rng = np.random.default_rng(datagen.SEED + i)
                arr = rng.integers(0, 256, size=(int(h), int(w), 3), dtype=np.uint8)
                blobs.append(encode_image(arr, fmt))
            b = b.assign(bytes=blobs)
            yield b[[f.name for f in schema.fields]]

    return df.mapInPandas(gen, schema)


def images_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return _attach_bytes(spark.sql(derive_images_sql()))


def changes_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change batch in the OLake envelope, derived from `documents`:
    updates (doc_id%10=3), key-only deletes (%10=7), inserts (%10=5, shifted
    ids), and same-timestamp c→u→d bursts (%100=11) that exercise the A1
    op-priority tie rule."""
    register_views(spark, sf_dir, ("documents",))
    t0 = "TIMESTAMP '2026-01-01 00:00:00'"
    upd = _attach_bytes(
        spark.sql(
            derive_images_sql(
                "doc_id", "'updated ' || text", "WHERE doc_id % 10 = 3"
            )
        )
    ).select("*", F.expr("'u'").alias("_op_type"))
    ins = _attach_bytes(
        spark.sql(
            derive_images_sql(
                f"(doc_id + {_NEW_ID_BASE})",
                "'inserted ' || text",
                "WHERE doc_id % 10 = 5",
            )
        )
    ).select("*", F.expr("'c'").alias("_op_type"))
    dels = spark.sql(
        "SELECT 'img-' || lpad(CAST(doc_id AS STRING), 12, '0') AS image_id, "
        "CAST(NULL AS BINARY) AS bytes, CAST(NULL AS INT) AS w, "
        "CAST(NULL AS INT) AS h, CAST(NULL AS STRING) AS fmt, "
        "CAST(NULL AS STRING) AS caption, CAST(NULL AS BIGINT) AS phash, "
        "'d' AS _op_type FROM documents WHERE doc_id % 10 = 7"
    )
    burst_base = _attach_bytes(
        spark.sql(
            derive_images_sql(
                f"(doc_id + {_BURST_ID_BASE})", "text", "WHERE doc_id % 100 = 11"
            )
        )
    )
    bursts = None
    for op in ("c", "u", "d"):
        part = burst_base.select("*", F.lit(op).alias("_op_type"))
        bursts = part if bursts is None else bursts.unionByName(part)

    changes = upd.unionByName(ins).unionByName(dels).unionByName(bursts)
    return changes.withColumn(
        "_cdc_timestamp",
        F.expr(
            f"timestampadd(SECOND, CAST(substring(image_id, 5) AS BIGINT) "
            f"% 86400, {t0})"
        ),
    ).withColumn("_olake_timestamp", F.col("_cdc_timestamp"))


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize a scan BEFORE its scratch table is deleted:
    localCheckpoint truncates lineage into executor block storage (memory +
    disk), so nothing recomputes from the soon-removed files — and unlike the
    round-1 collect()/createDataFrame pattern, no table-sized data ever moves
    through the driver, so the verifiable table size is bounded by cluster
    storage, not driver RAM. At deployment scale the same call site uses
    `checkpoint()` to reliable storage."""
    return df.localCheckpoint(eager=True)


def maintenance_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    with_merge: bool,
    curve: str = "hilbert",
    target_bytes: int = 256 * 1024,
    n_fragments: int = 40,
    keep_tmp: str | None = None,
) -> DataFrame:
    """Full pipeline: fragmented ingest [→ MERGE INTO] → compact → cluster →
    manifest rewrite (audited) → expire+reap → snapshot-pinned scan.

    Returns the final scan's oracle projection. The result is materialized
    (small: one row per document) before the scratch table is deleted."""
    tmp = keep_tmp or tempfile.mkdtemp(prefix="olake-roundtrip-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
            properties={"write.target-file-size-bytes": str(target_bytes)},
        )
        imgs = images_from_documents(spark, sf_dir)
        n = imgs.count()
        t.append(imgs, max_records_per_file=max(1, n // n_fragments))
        if with_merge:
            merge_into(t, changes_from_documents(spark, sf_dir))
        log = MaintenanceLog(spark, os.path.join(tmp, "mlog"))
        run_compaction(t, "rt-compact", log=log, fill_ratio=1.0, verify=True)
        run_cluster_rewrite(t, "rt-cluster", curve=curve, log=log, verify=True)
        rewrite_manifests(t, target_entries=64, audit=True)
        run_expire(t, keep_last=1, grace_seconds=0.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        if keep_tmp is None:
            shutil.rmtree(tmp, ignore_errors=True)


def roundtrip_oracle_sql(with_merge: bool) -> str:
    return _expected_post_merge_sql() if with_merge else derive_images_sql()


# one predicate text, two engines: delete_where evaluates these in Spark SQL,
# the oracle negates the SAME strings in DuckDB — they use only derived
# columns and operators both dialects compute identically (integer % keeps
# the dividend's sign in both)
DELETE_PREDS = ("phash % 7 = 0", "w = 16 AND fmt = 'png'")


def delete_where_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE roundtrip (Iceberg v2 positional deletes): two
    OVERLAPPING predicate deletes mark rows via (file_path, pos) delete
    files — no data file rewritten, the second delete must not re-mark rows
    the first already killed — then compaction folds the marks in physically
    and purges the dead delete files. The final plain scan (no anti-join
    left) must equal the derivation minus both predicates."""
    tmp = tempfile.mkdtemp(prefix="olake-mor-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        t.delete_where(DELETE_PREDS[0])
        # union of both predicates: overlap with the first is a no-op
        t.delete_where(f"({DELETE_PREDS[0]}) OR ({DELETE_PREDS[1]})")
        run_compaction(t, "mor-compact", fill_ratio=1.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def delete_where_oracle_sql() -> str:
    survive = " AND ".join(f"NOT ({p})" for p in DELETE_PREDS)
    return (
        f"SELECT * FROM ({derive_images_sql()}) WHERE {survive}"
    )


def autopilot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autopilot roundtrip: fragmented ingest + a predicate delete leave a
    table with small-file debt, delete debt, clustering drift (opt-in via
    the `autopilot.cluster.curve` table property) and a snapshot backlog;
    ONE `run_autopilot` pass must then DECIDE every needed op itself and
    run them in dependency order. In-gate assertions pin the planned op
    list and that post-run health is back under every trigger; the
    returned scan must equal the derivation minus the delete predicate —
    policy-driven maintenance never changes data."""
    from olake_spark.operators.autopilot import run_autopilot

    tmp = tempfile.mkdtemp(prefix="olake-autopilot-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
            properties={
                "write.target-file-size-bytes": str(4 * 1024 * 1024),
                "autopilot.cluster.curve": "hilbert",
            },
        )
        imgs = images_from_documents(spark, sf_dir)
        n = imgs.count()
        t.append(imgs, max_records_per_file=max(1, n // 40))
        t.delete_where(DELETE_PREDS[0])
        report = run_autopilot(
            t, "auto-rt",
            policy={"expire.max-snapshots": 1, "expire.grace-seconds": 0.0},
        )
        ops = [a["op"] for a in report["actions"]]
        assert ops == ["rewrite-deletes", "compact", "cluster", "expire"], (
            f"autopilot planned {ops}"
        )
        h = report["health_after"]
        assert h["pos_delete_files"] == 0, "delete debt not folded+purged"
        assert h["small_files"] < 5, "small-file debt not compacted"
        assert h["unclustered_ppm"] == 0, "cluster rewrite missing"
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def autopilot_oracle_sql() -> str:
    return (
        f"SELECT * FROM ({derive_images_sql()}) "
        f"WHERE NOT ({DELETE_PREDS[0]})"
    )


WAP_SPLIT_PRED = "phash % 2 = 0"  # first append; complement staged


def wap_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish roundtrip: half the derivation lands as a normal
    append, the other half is STAGED (committed but not current), audited
    while invisible to readers (asserted in-gate), then published
    atomically. The final scan must equal the full derivation."""
    tmp = tempfile.mkdtemp(prefix="olake-wap-")
    try:
        t = Table.create(
            spark, os.path.join(tmp, "images"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        t.append(imgs.filter(WAP_SPLIT_PRED), max_records_per_file=64)
        n_visible = t.scan().count()
        staged = t.stage_append(
            imgs.filter(f"NOT ({WAP_SPLIT_PRED})"), max_records_per_file=64
        )
        # audit phase: the staged rows are scannable BY ID but invisible to
        # plain readers until publish
        assert t.scan().count() == n_visible, "staged rows leaked pre-publish"
        audit = t.scan(snapshot_id=staged["snapshot_id"]).count()
        assert audit > n_visible, "stage audit scan missing staged rows"
        t.publish_snapshot(staged["snapshot_id"])
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def rollback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback roundtrip: good state → bad append → rollback_to the good
    snapshot. The post-rollback scan must equal the good half only, and the
    abandoned branch must be invisible to incremental readers (asserted
    in-gate via the ancestor chain)."""
    tmp = tempfile.mkdtemp(prefix="olake-rb-")
    try:
        t = Table.create(
            spark, os.path.join(tmp, "images"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        good = t.append(imgs.filter(WAP_SPLIT_PRED), max_records_per_file=64)
        t.append(imgs.filter(f"NOT ({WAP_SPLIT_PRED})"))  # the bad batch
        t.rollback_to(good["snapshot_id"])
        # the abandoned branch never surfaces in the incremental feed: the
        # window (good, current] holds only the rollback commit, which
        # moves no logical rows
        assert t.incremental_scan(good["snapshot_id"]).count() == 0, (
            "rolled-back rows resurfaced in the incremental feed"
        )
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def half_derivation_oracle_sql() -> str:
    return (
        f"SELECT * FROM ({derive_images_sql()}) WHERE {WAP_SPLIT_PRED}"
    )


def stream_feed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming table-source roundtrip (Iceberg streaming-read
    parity via the PySpark 4 Python Data Source API): ingest the derivation
    in two append commits, compact (a rewrite the feed must NOT re-surface),
    then drain ``readStream.format("icelite")`` from `earliest` with
    availableNow into a parquet sink. The drained rows must equal the
    derivation exactly — every append seen once, the rewrite invisible."""
    from olake_spark.streaming.table_source import read_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-feed-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        t.append(imgs.filter("phash % 2 = 0"), max_records_per_file=64)
        t.append(imgs.filter("phash % 2 != 0"), max_records_per_file=64)
        run_compaction(t, "feed-compact", fill_ratio=1.0)
        sink = os.path.join(tmp, "sink")
        q = (
            read_table_stream(spark, t.root)
            .selectExpr(*SCAN_COLS)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return _materialize(spark.read.parquet(sink).select(*SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_from_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg stream-from-timestamp roundtrip: the derivation lands in two
    append commits, the stream anchors at the SECOND commit's wall-clock
    timestamp (`stream_from_timestamp_ms`), and the drained rows must be
    exactly the second commit's half — the first commit is before the
    anchor and must never surface. In-gate asserts additionally pin the
    before-all and after-all fallbacks (full history / empty)."""
    from olake_spark.streaming.table_source import read_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-sft-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        t.append(imgs.filter("phash % 2 = 0"), max_records_per_file=64)
        import time

        time.sleep(0.002)  # distinct commit timestamps, guaranteed
        t.append(imgs.filter("phash % 2 != 0"), max_records_per_file=64)
        snaps = sorted(t.snapshots(), key=lambda s: s["snapshot_id"])
        anchor = snaps[1]["timestamp_ms"]
        assert snaps[0]["timestamp_ms"] < anchor, "clock went backwards?"

        def drain(tag: str, ts_ms: int) -> DataFrame:
            sink = os.path.join(tmp, f"sink-{tag}")
            q = (
                read_table_stream(spark, t.root, from_timestamp_ms=ts_ms)
                .selectExpr(*SCAN_COLS)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", os.path.join(tmp, f"c-{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            if not os.path.exists(sink):  # zero batches ran: nothing drained
                return spark.createDataFrame([], SCAN_SCHEMA)
            return spark.read.parquet(sink).select(*SCAN_COLS)

        # before-all → full history; after-all → empty until new commits
        assert drain("all", snaps[0]["timestamp_ms"] - 10_000).count() \
            == imgs.count()
        assert drain("none", anchor + 10_000).count() == 0
        return _materialize(drain("mid", anchor))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_from_timestamp_oracle_sql() -> str:
    return f"SELECT * FROM ({derive_images_sql()}) WHERE phash % 2 <> 0"


def stream_pipe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-to-table streaming pipeline: tail table A with the icelite
    streaming SOURCE and append into table B with the icelite streaming
    SINK (executor-side Arrow parquet writes + one atomic idempotent-txn
    snapshot commit per micro-batch). B's post-compaction scan must equal
    the derivation — the full source→sink→maintenance loop is lossless."""
    from olake_spark.operators.compact import run_compaction as _compact
    from olake_spark.streaming import read_table_stream, write_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-pipe-")
    try:
        a = Table.create(
            spark, os.path.join(tmp, "a"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        a.append(images_from_documents(spark, sf_dir), max_records_per_file=64)
        b = Table.create(
            spark, os.path.join(tmp, "b"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        q = write_table_stream(
            read_table_stream(spark, a.root),
            b.root, os.path.join(tmp, "ckpt"), txn_app="gate-pipe",
        )
        q.awaitTermination(300)
        b.refresh()
        _compact(b, "pipe-compact", fill_ratio=1.0)
        return _materialize(b.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink roundtrip — the reference's DEFAULT streaming
    destination shape (equality-delete-before-insert per micro-batch;
    IcebergTableWriterFactory.java:45-58, BaseDeltaTaskWriter.java:50-61):
    two checkpointed micro-batches of change rows flow through
    ``icelite-sink`` with ``mode=upsert``; each batch's keys kill
    strictly-older rows while the batch's own rows survive (delete seq =
    data seq, committed atomically as one rowdelta snapshot), so the later
    batch's re-update wins. The post-compaction scan must equal the batch
    MERGE derivation — and compaction's fresh sequence numbers make every
    eq-delete dead, so the steady-state table carries zero reconciliation
    debt (asserted in-gate)."""
    from olake_spark.operators.compact import run_compaction as _compact
    from olake_spark.streaming import write_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-upsert-")
    try:
        t = Table.create(
            spark, os.path.join(tmp, "t"), datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir), max_records_per_file=64)
        register_views(spark, sf_dir, ("documents",))
        feed = os.path.join(tmp, "feed")
        ckpt = os.path.join(tmp, "ckpt")

        def _drain(batch_df: DataFrame) -> None:
            _attach_bytes(batch_df).write.mode("append").parquet(feed)
            q = write_table_stream(
                spark.readStream.schema(datagen.IMAGES_SCHEMA).parquet(feed),
                t.root, ckpt, txn_app="gate-upsert", mode="upsert",
            )
            q.awaitTermination(300)

        # batch 1: updates (%10=3) + inserts (%10=5, shifted ids)
        _drain(spark.sql(
            derive_images_sql(
                "doc_id", "'updated ' || text", "WHERE doc_id % 10 = 3"
            )
            + " UNION ALL "
            + derive_images_sql(
                f"(doc_id + {_NEW_ID_BASE})", "'inserted ' || text",
                "WHERE doc_id % 10 = 5",
            )
        ))
        # batch 2 (checkpoint resume): re-update half of them — latest wins
        _drain(spark.sql(
            derive_images_sql(
                "doc_id", "'updated2 ' || text", "WHERE doc_id % 20 = 3"
            )
        ))
        t.refresh()
        _compact(t, "upsert-compact", fill_ratio=1.0)
        t.refresh()
        assert not any(e.content == EQ_DELETES for e in t.entries()), (
            "compaction must retire every streaming eq-delete"
        )
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_upsert_oracle_sql() -> str:
    """Oracle: base rows with the LAST update winning per key (%20=3 beats
    %10=3), plus the inserted rows."""
    kept = derive_images_sql(
        "doc_id",
        "CASE WHEN doc_id % 20 = 3 THEN 'updated2 ' || text "
        "WHEN doc_id % 10 = 3 THEN 'updated ' || text ELSE text END",
    )
    inserted = derive_images_sql(
        f"(doc_id + {_NEW_ID_BASE})", "'inserted ' || text",
        "WHERE doc_id % 10 = 5",
    )
    return f"{kept} UNION ALL {inserted}"


CLONE_DELETE_PRED = "h = 16 AND fmt = 'jpeg'"  # applied to the CLONE only


def clone_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy clone roundtrip (Iceberg `snapshot` procedure): build a
    source carrying BOTH delete kinds (an equality delete + a positional
    delete over DELETE_PREDS), snapshot_table it — zero data bytes copied,
    files referenced absolutely — then mutate ONLY the clone with a third
    predicate delete and compact it into owned layout. In-gate asserts: the
    source's disk bytes and scan are untouched by everything the clone did,
    and the clone's own files are all root-relative after compaction. The
    returned clone scan must equal the derivation minus all three
    predicates."""
    from olake_spark.icelite.clone import snapshot_table

    tmp = tempfile.mkdtemp(prefix="olake-clone-")
    try:
        src = Table.create(
            spark,
            os.path.join(tmp, "src"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        src.append(images_from_documents(spark, sf_dir), max_records_per_file=64)
        # equality delete (CDC-shaped): kills DELETE_PREDS[0] rows
        src.row_delta(
            None,
            src.scan(columns=["image_id", "phash"])
            .filter(DELETE_PREDS[0])
            .select("image_id"),
        )
        src.delete_where(DELETE_PREDS[1])  # positional delete
        before = {
            tuple(r) for r in src.scan(columns=SCAN_COLS).collect()
        }
        dest = snapshot_table(src, os.path.join(tmp, "dest"))
        dest.delete_where(CLONE_DELETE_PRED)
        run_compaction(dest, "clone-compact", fill_ratio=1.0)
        assert all(
            not os.path.isabs(e.file_path) for e in dest.entries()
        ), "compaction must migrate every by-reference file into owned layout"
        after = {tuple(r) for r in src.scan(columns=SCAN_COLS).collect()}
        assert after == before, "clone mutations leaked into the source"
        return _materialize(dest.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def clone_oracle_sql() -> str:
    survive = " AND ".join(
        f"NOT ({p})" for p in (*DELETE_PREDS, CLONE_DELETE_PRED)
    )
    return f"SELECT * FROM ({derive_images_sql()}) WHERE {survive}"


def compact_filtered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-scoped compaction roundtrip (Iceberg RewriteDataFiles
    `filter`): fragment a fmt-identity-partitioned ingest, then compact ONLY
    files that may hold fmt='png' rows. Asserted: every jpeg-partition file
    survives untouched (identical manifest paths — the filter pruned them
    from the plan via min/max stats, they were never read), the png debt
    consolidates to fewer files, and the scan is still the full derivation
    byte-for-byte — scoped maintenance is invisible to readers."""
    tmp = tempfile.mkdtemp(prefix="olake-fcomp-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir), max_records_per_file=40)

        def paths(part: str) -> set[str]:
            return {
                e.file_path
                for e in t.entries()
                if e.partition.get("_p_fmt") == part
            }

        jpeg_before, png_before = paths("jpeg"), paths("png")
        run_compaction(
            t, "filtered-compact", fill_ratio=1.0,
            predicates=[("fmt", "==", "png")],
        )
        assert paths("jpeg") == jpeg_before, "filter failed: jpeg rewritten"
        assert len(paths("png")) < len(png_before), "png debt not compacted"
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


ANALYZE_COLS = ["image_id", "fmt", "w", "caption", "phash"]
# nulls must actually occur for the null-count stat to prove anything
ANALYZE_NULL_PRED = "phash % 5 = 0"


def analyze_stats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics roundtrip (Iceberg computeTableStats / Puffin
    parity): build the derivation table (captions nulled on a predicate so
    null counts are non-trivial), ANALYZE it twice on the same snapshot —
    first the production HyperLogLog++ path (asserted within sketch
    tolerance of exact, in-gate), then the exact twin, which supersedes the
    sketch entry in metadata. The returned stats table (NDV + null count +
    min/max per column, read back through the registered stats file) must
    equal the oracle recomputing the same aggregates from the derivation."""
    from olake_spark.operators.analyze import analyze_table, column_stats_df

    tmp = tempfile.mkdtemp(prefix="olake-analyze-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(
            images_from_documents(spark, sf_dir).withColumn(
                "caption",
                F.when(F.expr(ANALYZE_NULL_PRED), F.lit(None)).otherwise(
                    F.col("caption")
                ),
            )
        )
        approx = analyze_table(t, ANALYZE_COLS, rsd=0.02)
        exact = analyze_table(t, ANALYZE_COLS, exact=True)
        for c in ANALYZE_COLS:
            a = approx["columns"][c]["ndv"]
            e = exact["columns"][c]["ndv"]
            assert abs(a - e) <= max(4, 0.08 * e), (
                f"HLL ndv for {c} out of tolerance: {a} vs exact {e}"
            )
        out = column_stats_df(t).select(
            F.col("column").alias("col_name"),
            "row_count",
            "ndv",
            "null_count",
            "min_str",
            "max_str",
        )
        return _materialize(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def analyze_stats_oracle_sql() -> str:
    derived = derive_images_sql()
    per_col = []
    for c in ANALYZE_COLS:
        per_col.append(
            f"""
SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS row_count,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_count,
       CAST(min({c}) AS STRING) AS min_str,
       CAST(max({c}) AS STRING) AS max_str
FROM img"""
        )
    union = "\nUNION ALL\n".join(per_col)
    return f"""
WITH img AS (
  SELECT image_id, w, h, fmt,
         CASE WHEN {ANALYZE_NULL_PRED} THEN NULL ELSE caption END AS caption,
         phash
  FROM ({derived})
)
{union}
"""


def add_files_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only import roundtrip (Iceberg `add_files` parity): the
    derivation is first written as a plain hive-layout parquet lake OUTSIDE
    any table (identity-partition dirs), then registered by reference —
    asserted zero-copy: the table's own data/ dir holds no parquet after
    the import, every entry is an absolute external path, and hive `k=v`
    segments became manifest partition values. A merge-on-read predicate
    DELETE then marks rows INSIDE the imported files (pos-delete row
    identity must work against external absolute paths), compaction
    migrates the survivors into table-owned layout, and the external
    originals must still exist afterwards — the engine never physically
    deletes files it didn't write. Final scan = derivation minus the
    predicate."""
    tmp = tempfile.mkdtemp(prefix="olake-addf-")
    try:
        lake = os.path.join(tmp, "lake")
        (
            images_from_documents(spark, sf_dir)
            .withColumn("_p_fmt", F.col("fmt"))
            .repartition(4, "image_id")
            .write.partitionBy("_p_fmt")
            .parquet(lake)
        )
        n_lake = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(lake) for f in fs
        )
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        t.add_files(lake)
        data_dir = os.path.join(t.root, "data")
        owned = (
            [p for p, _ in t.io.walk_files(data_dir) if p.endswith(".parquet")]
            if os.path.isdir(data_dir)
            else []
        )
        assert not owned, f"add_files copied bytes into the table: {owned[:2]}"
        ext = [e for e in t.entries() if e.content == 0]
        assert ext and all(os.path.isabs(e.file_path) for e in ext), ext[:2]
        assert all(
            e.partition.get("_p_fmt") in ("jpeg", "png") for e in ext
        ), "hive partition inference failed"
        t.delete_where(DELETE_PREDS[0])
        run_compaction(t, "addf-compact", fill_ratio=1.0)
        assert all(
            not os.path.isabs(e.file_path)
            for e in t.entries()
            if e.content == 0
        ), "compaction left external references"
        still = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(lake)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert len(still) == n_lake, "engine deleted externally-owned files"
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def add_files_oracle_sql() -> str:
    return (
        f"SELECT * FROM ({derive_images_sql()}) "
        f"WHERE NOT ({DELETE_PREDS[0]})"
    )


def rewrite_pos_deletes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RewritePositionDeleteFiles roundtrip: two predicate-delete commits
    leave two pos-delete files; the rewrite consolidates them into ONE
    (dropping nothing — every mark still references a live data file), and
    the post-rewrite scan must be bit-identical to the two-file scan, i.e.
    to the derivation minus both predicates. Data files untouched."""
    from olake_spark.operators.compact import rewrite_position_deletes

    tmp = tempfile.mkdtemp(prefix="olake-rpd-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        for pred in DELETE_PREDS:
            t.delete_where(pred)
        res = rewrite_position_deletes(t)
        assert res["added_files"] == 1 and res["rewritten_files"] == 2, res
        n_pos = sum(1 for e in t.entries() if e.content == 1)
        assert n_pos == 1, f"expected 1 consolidated delete file, got {n_pos}"
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def inspect_partitions_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-data invariant over the `partitions` inspect table
    (Iceberg's SELECT * FROM tbl.partitions): build a fmt-identity-
    partitioned table from the derivation, mark rows with a merge-on-read
    predicate delete, then read per-partition record totals PURELY from the
    manifests — zero data files touched. The oracle recomputes the same
    totals from the data itself, so any drift between file stats and file
    contents (the corruption manifest audits exist to catch) fails the gate.
    Pos-delete marks are table-scoped (partition "{}"), mirroring
    unpartitioned-spec delete files."""
    tmp = tempfile.mkdtemp(prefix="olake-inspect-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        t.delete_where(DELETE_PREDS[0])
        out = t.inspect_partitions().select(
            "partition_json",
            "data_record_count",
            "pos_delete_record_count",
        )
        return _materialize(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def inspect_partitions_oracle_sql() -> str:
    return f"""
WITH img AS ({derive_images_sql()})
SELECT '{{"_p_fmt": "' || fmt || '"}}' AS partition_json,
       CAST(count(*) AS BIGINT) AS data_record_count,
       CAST(0 AS BIGINT) AS pos_delete_record_count
FROM img GROUP BY fmt
UNION ALL
SELECT '{{}}' AS partition_json,
       CAST(0 AS BIGINT) AS data_record_count,
       CAST(count(*) AS BIGINT) AS pos_delete_record_count
FROM img WHERE {DELETE_PREDS[0]}
"""


# UPDATE predicate + assignments, one text per expression, both engines:
# update_where evaluates them in Spark SQL, the oracle folds the SAME
# strings into a CASE projection in DuckDB
UPDATE_PRED = "fmt = 'jpeg' AND phash % 3 = 0"
UPDATE_SET = {"caption": "'redacted ' || caption", "w": "w * 2"}


def update_where_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE roundtrip: update_where atomically commits
    positional-delete marks for the matching rows plus data files with
    their transformed copies (Iceberg v2 UPDATE shape), then compaction
    folds the marks in and purges the dead delete files. The final scan
    must equal the derivation with the assignments applied to exactly the
    predicate's rows — cardinality never changes."""
    tmp = tempfile.mkdtemp(prefix="olake-upd-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        t.update_where(UPDATE_PRED, UPDATE_SET)
        run_compaction(t, "upd-compact", fill_ratio=1.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def overwrite_partitions_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite roundtrip (Iceberg ReplacePartitions /
    INSERT OVERWRITE): the derivation lands under identity(fmt), then the
    'png' partition is atomically replaced by a transformed half-size
    replacement set — the commit drops the partition's files from the
    manifest (metadata-only delete side, no row-level delete files) and the
    untouched 'jpeg' partition keeps its exact files. The final scan must
    equal untouched-partitions ∪ replacement rows."""
    tmp = tempfile.mkdtemp(prefix="olake-ovw-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("fmt", "identity"),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        t.append(imgs, max_records_per_file=64)
        jpeg_before = {
            e.file_path for e in t.entries()
            if e.partition.get("_p_fmt") == "jpeg"
        }
        repl = imgs.filter(
            "fmt = 'png' AND CAST(substring(image_id, 5) AS BIGINT) % 2 = 0"
        ).withColumn("caption", F.concat(F.lit("replaced "), F.col("caption")))
        res = t.overwrite_partitions(repl)
        assert res["removed_files"] > 0, "overwrite dropped no files"
        assert res["partitions_replaced"] == 1, res
        jpeg_after = {
            e.file_path for e in t.entries()
            if e.partition.get("_p_fmt") == "jpeg"
        }
        assert jpeg_after == jpeg_before, "untouched partition was rewritten"
        run_compaction(t, "ovw-compact", fill_ratio=1.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def overwrite_partitions_oracle_sql() -> str:
    base = derive_images_sql()
    return (
        f"SELECT image_id, w, h, fmt, caption, phash FROM ({base}) "
        "WHERE fmt <> 'png' "
        "UNION ALL "
        "SELECT image_id, w, h, fmt, 'replaced ' || caption AS caption, "
        f"phash FROM ({base}) "
        "WHERE fmt = 'png' AND CAST(substring(image_id, 5) AS BIGINT) % 2 = 0"
    )


def partition_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition spec evolution roundtrip: half the derivation lands under
    bucket(image_id,4), the spec evolves to identity(fmt) (no data moves),
    the other half lands under the new layout, a positional delete spans
    both layouts, and compaction migrates everything to the current spec.
    The final scan must equal the full derivation — evolution and migration
    move bytes, never logical rows."""
    tmp = tempfile.mkdtemp(prefix="olake-evo-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        half = "cast(substring(image_id, 5) as bigint) % 2"
        t.append(imgs.filter(f"({half}) = 0"))
        t.update_spec(PartitionSpec((PartitionField("fmt", "identity"),)))
        t.append(imgs.filter(f"({half}) = 1"))
        t.delete_where("phash % 11 = 0")  # marks span both layouts
        run_compaction(t, "evo-compact", fill_ratio=1.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def partition_evolution_oracle_sql() -> str:
    return (
        f"SELECT * FROM ({derive_images_sql()}) WHERE NOT (phash % 11 = 0)"
    )


def update_where_oracle_sql() -> str:
    proj = []
    for c in SCAN_COLS:
        if c in UPDATE_SET:
            typ = "INTEGER" if c == "w" else "STRING"
            proj.append(
                f"CAST(CASE WHEN {UPDATE_PRED} THEN {UPDATE_SET[c]} "
                f"ELSE {c} END AS {typ}) AS {c}"
            )
        else:
            proj.append(c)
    return f"SELECT {', '.join(proj)} FROM ({derive_images_sql()})"


def changelog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog (CDC read) roundtrip: delete_where then update_where then
    a compaction, read back as the delete-aware row feed. The feed must
    carry (a) the DELETE before-images of exactly the first predicate's
    rows at ordinal 1, (b) delete+insert pairs for the UPDATE's rows at
    ordinal 2 (before-image + transformed copy), and (c) NOTHING for the
    compaction — rewrites move bytes, not logical rows."""
    tmp = tempfile.mkdtemp(prefix="olake-clog-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        start = t.current_snapshot_id
        t.delete_where(DELETE_PREDS[0])
        t.update_where(UPDATE_PRED, UPDATE_SET)
        run_compaction(t, "clog-compact", fill_ratio=1.0)
        return _materialize(t.changelog_scan(start, columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stream_changelog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING changelog roundtrip — the same scenario as the batch
    changelog gate (delete_where at ordinal 1, update_where at ordinal 2, a
    compaction that must stay invisible), consumed through
    ``format("icelite") mode=changelog`` instead of ``changelog_scan``.
    Both change commits are positional-delete-based, so the stream's
    executor-side before-image resolution (read the referenced parent files,
    take the marked ordinals — no Spark job, no parent-snapshot join) must
    reproduce the batch feed EXACTLY; `_change_ordinal` is recovered from
    the emitted `_commit_snapshot_id` (dense: start+k → k)."""
    from olake_spark.streaming import read_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-sclog-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        start = t.current_snapshot_id
        t.delete_where(DELETE_PREDS[0])
        t.update_where(UPDATE_PRED, UPDATE_SET)
        run_compaction(t, "sclog-compact", fill_ratio=1.0)
        out_dir = os.path.join(tmp, "out")
        q = (
            read_table_stream(spark, t.root, starting=str(start),
                              mode="changelog")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.read.parquet(out_dir)
        return _materialize(
            out.select(
                *SCAN_COLS,
                "_change_type",
                (F.col("_commit_snapshot_id") - F.lit(start))
                .cast("int").alias("_change_ordinal"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def mirror_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live table→table replication roundtrip — the reference's whole
    program (backfill then CDC-tail a source into Iceberg) with both ends
    tables. Drain 1 bootstraps the full base state AND replays a
    pos-delete plus an upsert from the same changelog (each affected key
    arrives as an insert→delete→insert chain that the per-key collapse
    must resolve to the newest version); the mirror then goes DOWN, the
    source advances with a second upsert and a compaction (which must stay
    invisible), and drain 2 resumes from the checkpoint replicating only
    the delta. The destination's scan must equal the source's — returned
    for the oracle, with src==dst asserted in-gate."""
    from olake_spark.streaming import mirror_table_stream

    tmp = tempfile.mkdtemp(prefix="olake-mirror-")
    try:
        spec = PartitionSpec((PartitionField("image_id", "bucket", 4),))
        src = Table.create(
            spark, os.path.join(tmp, "src"), datagen.IMAGES_SCHEMA, spec,
            identifier_fields=("image_id",),
        )
        dst = Table.create(
            spark, os.path.join(tmp, "dst"), datagen.IMAGES_SCHEMA, spec,
            identifier_fields=("image_id",),
        )
        src.append(images_from_documents(spark, sf_dir), max_records_per_file=64)
        register_views(spark, sf_dir, ("documents",))
        src.delete_where(DELETE_PREDS[0])
        upd1 = _attach_bytes(spark.sql(derive_images_sql(
            "doc_id", "'mirror ' || text", "WHERE doc_id % 10 = 3"
        )))
        src.row_delta(upd1, upd1.select("image_id"))
        ckpt = os.path.join(tmp, "ckpt")
        q = mirror_table_stream(spark, src.root, dst.root, ckpt)
        q.awaitTermination(300)
        # mirror down: source advances (second upsert + invisible rewrite)
        upd2 = _attach_bytes(spark.sql(derive_images_sql(
            "doc_id", "'mirror2 ' || text", "WHERE doc_id % 20 = 3"
        )))
        src.row_delta(upd2, upd2.select("image_id"))
        run_compaction(src, "mirror-compact", fill_ratio=1.0)
        q = mirror_table_stream(spark, src.root, dst.root, ckpt)
        q.awaitTermination(300)
        dst.refresh()
        src_rows = {
            tuple(r) for r in src.scan(columns=SCAN_COLS).collect()
        }
        dst_rows = {
            tuple(r) for r in dst.scan(columns=SCAN_COLS).collect()
        }
        assert dst_rows == src_rows, (
            f"mirror diverged: {len(dst_rows)} vs {len(src_rows)} rows"
        )
        return _materialize(dst.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def mirror_oracle_sql() -> str:
    """Final replicated state: base minus the pos-delete predicate's rows
    (except keys later re-inserted by the upserts), with the second upsert
    beating the first."""
    untouched = (
        "SELECT * FROM ("
        + derive_images_sql(where="WHERE doc_id % 10 <> 3")
        + f") WHERE NOT ({DELETE_PREDS[0]})"
    )
    upd1 = derive_images_sql(
        "doc_id", "'mirror ' || text",
        "WHERE doc_id % 10 = 3 AND doc_id % 20 <> 3",
    )
    upd2 = derive_images_sql(
        "doc_id", "'mirror2 ' || text", "WHERE doc_id % 20 = 3"
    )
    return f"{untouched} UNION ALL {upd1} UNION ALL {upd2}"


def branch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch + fast-forward roundtrip: half the derivation lands on main,
    the other half arrives through an isolated branch in two commits (main
    must not see it before the merge), then fast_forward promotes the
    branch lineage and compaction normalizes the files. The final scan must
    equal the full derivation."""
    tmp = tempfile.mkdtemp(prefix="olake-br-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        imgs = images_from_documents(spark, sf_dir)
        third = "cast(substring(image_id, 5) as bigint) % 3"
        t.append(imgs.filter(f"({third}) = 0"))
        main_rows = t.scan().count()
        t.create_branch("ingest")
        t.append_to_branch("ingest", imgs.filter(f"({third}) = 1"))
        t.append_to_branch("ingest", imgs.filter(f"({third}) = 2"))
        if t.scan().count() != main_rows:  # isolation must hold
            raise AssertionError("branch commits leaked into main")
        t.fast_forward("ingest")
        run_compaction(t, "br-compact", fill_ratio=1.0)
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def changelog_oracle_sql() -> str:
    base = derive_images_sql()
    cols = ", ".join(SCAN_COLS)
    upd_proj = []
    for c in SCAN_COLS:
        if c in UPDATE_SET:
            typ = "INTEGER" if c == "w" else "STRING"
            upd_proj.append(f"CAST({UPDATE_SET[c]} AS {typ}) AS {c}")
        else:
            upd_proj.append(c)
    survive_first = f"NOT ({DELETE_PREDS[0]})"
    return f"""
WITH base AS ({base})
SELECT {cols}, 'delete' AS _change_type, CAST(1 AS INTEGER) AS _change_ordinal
FROM base WHERE ({DELETE_PREDS[0]})
UNION ALL
SELECT {cols}, 'delete', CAST(2 AS INTEGER)
FROM base WHERE {survive_first} AND ({UPDATE_PRED})
UNION ALL
SELECT {', '.join(upd_proj)}, 'insert', CAST(2 AS INTEGER)
FROM base WHERE {survive_first} AND ({UPDATE_PRED})
"""


def backfill_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    key_col: str | tuple[str, ...] = "phash",
    n_chunks: int = 8,
) -> DataFrame:
    """S2/S6/S7 chunked backfill (sync verb): load the derived image table
    through `sync.backfill` (equal-frequency chunks over `key_col`,
    per-chunk-group commits, resume log) and scan it back — must equal the
    pure derivation. With a tuple key this is the S8 lexicographic
    composite-key walk."""
    from olake_spark.checkpoint import MaintenanceLog
    from olake_spark.sync import backfill

    tmp = tempfile.mkdtemp(prefix="olake-bf-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 4),)),
            identifier_fields=("image_id",),
        )
        log = MaintenanceLog(spark, os.path.join(tmp, "mlog"))
        src = images_from_documents(spark, sf_dir)
        backfill(t, src, key_col=key_col, job_id="bf", log=log, n_chunks=n_chunks)
        # resume call proves idempotence inside the gate: nothing re-executes
        res2 = backfill(
            t, src, key_col=key_col, job_id="bf", log=log, n_chunks=n_chunks
        )
        assert res2["chunks_executed"] == 0, res2
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cdc_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12-S14 bounded change-feed apply: the change batch is written as an
    ordered log, drained with availableNow micro-batches, each applied via
    MERGE INTO; the final scan must equal the batch-merge oracle."""
    from olake_spark.sync import apply_cdc_stream

    tmp = tempfile.mkdtemp(prefix="olake-cdcs-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        feed = os.path.join(tmp, "feed")
        changes_from_documents(spark, sf_dir).orderBy(
            "_cdc_timestamp", "image_id", "_op_type"
        ).coalesce(1).write.parquet(feed)
        stream = (
            spark.readStream.schema(datagen.CHANGES_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        apply_cdc_stream(t, stream, os.path.join(tmp, "ckpt"))
        return _materialize(t.scan(columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def keep_deletes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7 keep-deletes tombstones under the reference's DEFAULT
    (`upsert-keep-deletes=true`, iceberg_utils.go:180): the destination
    schema carries the OLake metadata column `_op_type`, the table property
    turns the mode on, and a MERGE leaves deleted keys behind as tombstone
    rows instead of dropping them. The gate projection COALESCEs the nulled
    payload columns to sentinels (-1 / '') so the typed cross-engine compare
    never sees NULL integers (pandas would widen those columns to float)."""
    tmp = tempfile.mkdtemp(prefix="olake-keepdel-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.CHANGES_SCHEMA,
            identifier_fields=("image_id",),
            properties={"upsert-keep-deletes": "true"},
        )
        base_ts = "TIMESTAMP '2025-12-01 00:00:00'"
        base = images_from_documents(spark, sf_dir).select(
            "*",
            F.lit("r").alias("_op_type"),
            F.expr(base_ts).alias("_cdc_timestamp"),
            F.expr(base_ts).alias("_olake_timestamp"),
        )
        t.append(base)
        merge_into(t, changes_from_documents(spark, sf_dir))  # property mode
        out = t.scan(columns=[*SCAN_COLS, "_op_type"]).select(
            "image_id",
            F.expr("coalesce(w, -1)").alias("w"),
            F.expr("coalesce(h, -1)").alias("h"),
            F.expr("coalesce(fmt, '')").alias("fmt"),
            F.expr("coalesce(caption, '')").alias("caption"),
            F.expr("coalesce(phash, CAST(-1 AS BIGINT))").alias("phash"),
            "_op_type",
        )
        return _materialize(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def keep_deletes_oracle_sql() -> str:
    """Expected keep-deletes table: kept base rows ('r') ∪ updates ('u') ∪
    delete tombstones ('d', sentinel payload) ∪ inserts ('c') ∪ burst
    survivors ('d' wins the same-timestamp op-priority tie, payload kept)."""

    def tag(sql: str, op: str) -> str:
        return (
            f"SELECT image_id, w, h, fmt, caption, phash, '{op}' AS _op_type "
            f"FROM ({sql})"
        )

    kept = derive_images_sql("doc_id", "text", "WHERE doc_id % 10 NOT IN (3, 7)")
    upd = derive_images_sql(
        "doc_id", "'updated ' || text", "WHERE doc_id % 10 = 3"
    )
    ins = derive_images_sql(
        f"(doc_id + {_NEW_ID_BASE})", "'inserted ' || text", "WHERE doc_id % 10 = 5"
    )
    burst = derive_images_sql(
        f"(doc_id + {_BURST_ID_BASE})", "text", "WHERE doc_id % 100 = 11"
    )
    tomb = (
        "SELECT 'img-' || lpad(CAST(doc_id AS STRING), 12, '0') AS image_id, "
        "-1 AS w, -1 AS h, '' AS fmt, '' AS caption, "
        "CAST(-1 AS BIGINT) AS phash, 'd' AS _op_type "
        "FROM documents WHERE doc_id % 10 = 7"
    )
    return " UNION ALL ".join(
        [tag(kept, "r"), tag(upd, "u"), tomb, tag(ins, "c"), tag(burst, "d")]
    )


def snapshot_pinned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11 (SURVEY §2.1): snapshot-isolated reads — the Spark rendition
    of Oracle's `AS OF SCN` flashback scans (pkg/jdbc/jdbc.go:319-357) and
    the repeatable-read chunk isolation. A merge commits AFTER the reader's
    snapshot is pinned; the pinned scan must still return exactly the
    pre-merge derivation (the oracle), proving isolation."""
    import tempfile as _tf

    tmp = _tf.mkdtemp(prefix="olake-pin-")
    try:
        t = Table.create(
            spark,
            os.path.join(tmp, "images"),
            datagen.IMAGES_SCHEMA,
            identifier_fields=("image_id",),
        )
        t.append(images_from_documents(spark, sf_dir))
        pinned = t.current_snapshot_id
        merge_into(t, changes_from_documents(spark, sf_dir))
        return _materialize(t.scan(snapshot_id=pinned, columns=SCAN_COLS))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
