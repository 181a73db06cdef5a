"""Data files carry no parquet statistics on binary columns
(`icelite.stats.unstated_columns`). Append, MERGE, compaction, the cluster
rewrite and the streaming sink write none on `bytes`; every other column
keeps its min/max in the footer and the manifest, pruning is unchanged, and
an Iceberg export round trip keeps the row set."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from olake_spark import datagen
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.icelite.avro import read_ocf
from olake_spark.icelite.export import export_iceberg, import_iceberg
from olake_spark.icelite.table import DATA
from olake_spark.operators.cluster import run_cluster_rewrite
from olake_spark.operators.compact import run_compaction
from olake_spark.operators.merge import merge_into
from olake_spark.streaming.table_sink import IceliteStreamWriter, _stated_paths

BOUNDED = ("image_id", "phash", "caption")


def footer_columns(path: str) -> tuple[set[str], set[str]]:
    """(columns with statistics in some row group, columns with min/max in
    every row group) of one parquet file."""
    md = pq.ParquetFile(path).metadata
    stated: set[str] = set()
    bounded = {md.schema.column(i).path for i in range(md.num_columns)}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(md.num_columns):
            c = g.column(i)
            if c.is_stats_set:
                stated.add(c.path_in_schema)
            if not (c.is_stats_set and c.statistics.has_min_max):
                bounded.discard(c.path_in_schema)
    return stated, bounded


def assert_no_binary_stats(path: str, mins: dict, maxs: dict, nulls: dict):
    stated, bounded = footer_columns(path)
    assert "bytes" not in stated
    assert set(BOUNDED) <= bounded
    assert "bytes" not in mins and "bytes" not in maxs and "bytes" not in nulls
    assert all(c in mins and c in maxs for c in BOUNDED)


@pytest.fixture()
def images(spark, tmp_table_dir):
    t = Table.create(
        spark,
        os.path.join(tmp_table_dir, "img"),
        datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 4),)),
        identifier_fields=("image_id",),
    )
    # bench-sized images (16-32 px): each payload fits parquet-mr's 4 KB
    # statistics cap, so a writer that kept binary statistics would store it
    t.append(datagen.gen_images_df(spark, 80, bench=True), max_records_per_file=10)
    return t


def test_every_table_write_skips_binary_stats(spark, images):
    t = images
    seen: set[str] = set()

    def check_new_files():
        t.refresh()
        new = [
            e for e in t.entries()
            if e.content == DATA and e.file_path not in seen
        ]
        assert new
        for e in new:
            assert_no_binary_stats(t._abs(e.file_path), e.mins, e.maxs, e.nulls)
        seen.update(e.file_path for e in new)

    check_new_files()  # append
    merge_into(t, datagen.gen_changes_df(spark, base_n=80, n_changes=40, bench=True))
    check_new_files()
    assert run_compaction(t, "bstats-c", fill_ratio=1.0, target_bytes=1 << 20)[
        "bins_executed"
    ]
    check_new_files()
    run_cluster_rewrite(t, "bstats-k", curve="hilbert", target_bytes=1 << 16)
    check_new_files()


def test_phash_range_scan_still_prunes(spark, images):
    t = images
    run_cluster_rewrite(t, "prune-k", curve="hilbert", target_bytes=1 << 16)
    t.refresh()
    data = [e for e in t.entries() if e.content == DATA]
    low = min(data, key=lambda e: e.maxs["phash"])
    cut = low.maxs["phash"]
    df = t.scan(predicates=[("phash", ">", cut)])
    assert not any(f.endswith(low.file_path) for f in df.inputFiles())
    full = t.scan(columns=["phash"]).collect()
    assert df.count() == sum(r.phash > cut for r in full) > 0


def test_stream_sink_file_skips_binary_stats(spark, images):
    pdf = images.scan().limit(12).toPandas()
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    w = IceliteStreamWriter(images.schema, {"path": images.root, "txn_app": "bs"})
    msg = w.write(iter([batch]))
    assert msg.record_count == 12
    assert_no_binary_stats(
        os.path.join(images.root, msg.rel_path), msg.mins, msg.maxs, msg.nulls
    )


def test_stated_paths_keeps_nested_leaves():
    schema = pa.schema([
        ("id", pa.int64()),
        ("payload", pa.binary()),
        ("meta", pa.struct([("w", pa.int32()), ("tags", pa.list_(pa.string()))])),
    ])
    assert _stated_paths(schema, set()) is True
    assert _stated_paths(schema, {"payload"}) == [
        "id", "meta.w", "meta.tags.list.element"
    ]


def test_export_roundtrip_without_binary_null_counts(spark, images, tmp_table_dir):
    t = images
    out = export_iceberg(t, os.path.join(tmp_table_dir, "exp"))
    meta = json.load(open(out["metadata_json"]))
    ids = {
        f["name"]: f["id"]
        for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        for f in s["fields"]
    }
    for m in out["manifests"]:
        _schema, recs = read_ocf(open(m, "rb").read())
        for r in recs:
            keys = {kv["key"] for kv in r["data_file"]["null_value_counts"] or []}
            assert ids["bytes"] not in keys and ids["image_id"] in keys
    imp = import_iceberg(
        spark, out["metadata_json"], os.path.join(tmp_table_dir, "imp")
    )
    assert imp.scan().orderBy("image_id").collect() == \
        t.scan().orderBy("image_id").collect()
