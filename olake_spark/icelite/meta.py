"""All-snapshots metadata tables — Iceberg's `all_files` / `all_manifests`.

`Table.inspect_files` / `inspect_manifests` answer questions about ONE
snapshot; reap debugging, retention audits and storage accounting need the
union across every retained snapshot ("which snapshot still pins this
file?", "how much history does each snapshot hold?"). Iceberg exposes these
as the `all_files` and `all_manifests` metadata tables; this module is the
icelite rendition, composed over the Table's public surface.

Scale shape: each DISTINCT manifest parquet is read exactly once in one
distributed scan (manifests shared by many snapshots — the common case,
since commits reuse unchanged manifests — cost one read, not one per
snapshot); the (snapshot_id, manifest_path) attribution rides a broadcast
join of driver-held metadata (#snapshots × #manifests pointer pairs, KBs).
Like Iceberg's own `all_files`, a file referenced by many snapshots yields
one row per referencing snapshot — that attribution IS the point of the
view; `DISTINCT file_path` collapses it when only liveness matters.

Reference provenance: the reference relies on Iceberg's metadata tables
for this (its tests scan them through Spark, `test_utils.go:194-228`);
here they are re-expressed over icelite's parquet manifests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from olake_spark.icelite.table import DATA, Table, uri_path


def _snapshot_manifest_pairs(table: Table) -> list[tuple[int, str]]:
    table.refresh()
    return [
        (s["snapshot_id"], m)
        for s in table.snapshots()
        for m in s["manifests"]
    ]


_PAIRS_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("manifest_path", StringType(), False),
    ]
)


def _tagged_entries(table: Table, pairs: list[tuple[int, str]]) -> DataFrame:
    """One distributed read of the DISTINCT manifests, each entry row tagged
    with its manifest's root-relative path, then broadcast-joined to the
    (snapshot_id, manifest_path) attribution pairs."""
    import os

    distinct = sorted({m for _, m in pairs})
    # byte offset of the root-relative path after "<abs root>/" — the same
    # positional strip Table.scan uses for its row-identity tags
    rel_start = len(os.path.abspath(table.root)) + 2
    entries = (
        table.spark.read.schema(table._FILES_SCHEMA)
        .parquet(*[table._abs(m) for m in distinct])
        .withColumn(
            "manifest_path",
            F.substring(uri_path(F.col("_metadata.file_path")), rel_start, 1000000),
        )
    )
    # from pandas through Arrow: a LocalTableScan, no Python-worker job
    pairs_df = table.spark.createDataFrame(
        pd.DataFrame(pairs, columns=_PAIRS_SCHEMA.names), _PAIRS_SCHEMA
    )
    return entries.join(F.broadcast(pairs_df), "manifest_path")


def all_files_df(table: Table) -> DataFrame:
    """Iceberg `all_files`: one row per (referencing snapshot, file entry)
    across every retained snapshot. Columns = the `files` table plus
    `snapshot_id` and `manifest_path`."""
    pairs = _snapshot_manifest_pairs(table)
    if not pairs:
        schema = StructType(
            [StructField("manifest_path", StringType(), False)]
            + table._FILES_SCHEMA.fields
            + [StructField("snapshot_id", LongType(), False)]
        )
        return table.spark.createDataFrame([], schema)
    return _tagged_entries(table, pairs)


def all_manifests_df(table: Table) -> DataFrame:
    """Iceberg `all_manifests`: one row per (referencing snapshot,
    manifest) with the manifest's entry counts by content kind."""
    pairs = _snapshot_manifest_pairs(table)
    if not pairs:
        return table.spark.createDataFrame(
            [],
            "snapshot_id long, manifest_path string, entry_count long, "
            "data_file_count long, delete_file_count long, "
            "record_count long, file_size_bytes long",
        )
    # NB: this aggregate list mirrors Table.inspect_manifests' per-snapshot
    # view — a change to manifest accounting (e.g. a new content kind) must
    # land in both, or the two views drift apart
    return (
        _tagged_entries(table, pairs)
        .groupBy("snapshot_id", "manifest_path")
        .agg(
            F.count("*").alias("entry_count"),
            F.sum(F.when(F.col("content") == DATA, 1).otherwise(0))
            .alias("data_file_count"),
            F.sum(F.when(F.col("content") != DATA, 1).otherwise(0))
            .alias("delete_file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("file_size_bytes"),
        )
    )
