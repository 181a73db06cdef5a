"""icelite Table: snapshots, manifests, equality deletes, atomic commits.

Semantics replicated from the reference's Iceberg usage (SURVEY.md §4):

- v2-style **row deltas**: a commit may add data files and equality-delete
  files at one sequence number; an equality delete kills rows whose key
  matches in any *strictly older* data file (BaseDeltaTaskWriter.java:50-61,
  IcebergTableOperator.java:219-281 — RowDelta.addRows/addDeletes).
- **snapshot-pinned scans**: every scan resolves against one snapshot's
  manifest list; concurrent commits never change what a running reader sees
  (reference analogue: AS OF SCN scans, pkg/jdbc/jdbc.go:319-342).
- **atomic commit, optimistic concurrency**: the versioned metadata file is
  created with O_EXCL — exactly one writer wins a version; losers re-derive
  against fresh metadata and retry (IcebergTableOperator.java:248-281's
  refresh-then-commit under lock, without the lock).

Storage layout (local FS by default; s3a/hdfs paths work the same through
Spark for the data plane, and every metadata-side filesystem call goes
through the FileIO interface (icelite.fileio) — deployment to an object
store / catalog service implements ONE class, mirroring the reference's
catalog-vs-FileIO split, iceberg_utils.go:197-260):

    <root>/metadata/v00001.metadata.json     ← linearization point; the
                                               newest version is current,
                                               older ones but v00001 go at
                                               expiry
                                               (remove_superseded_metadata)
    <root>/metadata/version-hint.text        ← advisory cache
    <root>/metadata/manifests/mf-*.parquet   ← one row per data/delete file:
                                               counts, min/max/null JSON, and
                                               for data files a `ranges` map
                                               of packed int64 intervals per
                                               integral column (stats.py)
    <root>/data/<seq>-<uuid>/<_p_col=val>/*.parquet  ← data files, one
                                               directory per write job
    <root>/deletes/<seq>-<uuid>/*.parquet    ← equality/positional deletes
"""

from __future__ import annotations

import json
import numbers
import os
import threading
import time
import uuid
import dataclasses
from dataclasses import dataclass
from typing import Any, Callable, Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, BooleanType, IntegerType,
                               LongType, MapType, StringType, StructField,
                               StructType)

from olake_spark.icelite.fileio import FileIO, default_io
from olake_spark.icelite.spec import PartitionSpec
from olake_spark.icelite.stats import (collect_file_stats, unpack_ranges,
                                      unstated_columns)

DATA = 0
POS_DELETES = 1  # Iceberg v2 positional deletes: rows of (file_path, pos)
EQ_DELETES = 2

# `write.target-file-size-bytes` when a table does not set it
DEFAULT_TARGET_FILE_SIZE = 512 * 1024 * 1024

# broadcast the aggregated delete-key side of the scan anti-join when it is
# estimated under this many rows ("broadcast-or-sort-merge join against
# equality-delete reconciliation", BASELINE.json north_star)
BROADCAST_DELETE_ROWS = 2_000_000

# units (compaction bins, backfill chunks) committed per snapshot by the
# grouped writers: one snapshot and one maintenance-log append per group
COMMIT_GROUP = 16

_MANIFEST_SCHEMA = pa.schema(
    [
        ("content", pa.int32()),
        ("file_path", pa.string()),  # relative to table root
        ("partition_json", pa.string()),
        ("seq", pa.int64()),
        ("record_count", pa.int64()),
        ("file_size_bytes", pa.int64()),
        ("mins_json", pa.string()),
        ("maxs_json", pa.string()),
        ("nulls_json", pa.string()),
        # per integral column: packed int64 interval endpoints (stats.py);
        # absent from manifests written before it, read as no summaries
        ("ranges", pa.map_(pa.string(), pa.binary())),
    ]
)


def metadata_version(name: str) -> int | None:
    """N of a `vN.metadata.json` file name, or None for any other name:
    a name whose N is not all ASCII digits, such as Iceberg's gzip
    `v1.gz.metadata.json`, is not a version."""
    if name.startswith("v") and name.endswith(".metadata.json"):
        digits = name[1:-len(".metadata.json")]
        if digits.isascii() and digits.isdigit():
            return int(digits)
    return None


class TxnAlreadyApplied(Exception):
    """Raised inside a commit build when the (app_id, version) transaction
    was already recorded — the idempotent-writer skip signal."""


class CommitConflict(Exception):
    """Another writer invalidated this commit's assumptions (files vanished)."""


@dataclass
class FileEntry:
    content: int
    file_path: str
    partition: dict[str, str]
    seq: int
    record_count: int
    file_size_bytes: int
    mins: dict[str, Any]
    maxs: dict[str, Any]
    nulls: dict[str, int]
    # column -> packed interval endpoints (stats.pack_ranges), decoded only
    # when a scan predicate names the column (_may_match)
    ranges: dict[str, bytes] = dataclasses.field(default_factory=dict)

    def to_row(self) -> dict:
        return {
            "content": self.content,
            "file_path": self.file_path,
            "partition_json": json.dumps(self.partition, sort_keys=True),
            "seq": self.seq,
            "record_count": self.record_count,
            "file_size_bytes": self.file_size_bytes,
            "mins_json": json.dumps(self.mins, sort_keys=True, default=str),
            "maxs_json": json.dumps(self.maxs, sort_keys=True, default=str),
            "nulls_json": json.dumps(self.nulls, sort_keys=True),
            "ranges": sorted(self.ranges.items()),
        }

    @staticmethod
    def from_row(r: dict, ranges: dict[str, bytes]) -> "FileEntry":
        return FileEntry(
            content=r["content"],
            file_path=r["file_path"],
            partition=json.loads(r["partition_json"]),
            seq=r["seq"],
            record_count=r["record_count"],
            file_size_bytes=r["file_size_bytes"],
            mins=json.loads(r["mins_json"]),
            maxs=json.loads(r["maxs_json"]),
            nulls=json.loads(r["nulls_json"]),
            ranges=ranges,
        )


def _write_manifest(path: str, entries: list[FileEntry]) -> None:
    rows = [e.to_row() for e in entries]
    cols = {f.name: [r[f.name] for r in rows] for f in _MANIFEST_SCHEMA}
    # no parquet column statistics: every reader loads the whole manifest
    # and prunes on the parsed entries, so footer min/max copies of the
    # *_json strings would only add bytes
    pq.write_table(
        pa.table(cols, schema=_MANIFEST_SCHEMA), path, write_statistics=False
    )


# manifest files are immutable (content-addressed by uuid name): cache their
# parsed entries per process. Without this, every rewrite commit re-reads all
# live manifests to locate its removed paths — O(commits²) parquet opens
# during a many-bin compaction.
_MANIFEST_CACHE: dict[str, list] = {}
_MANIFEST_CACHE_MAX = 8192


def _ranges_column(t: pa.Table) -> list[dict[str, bytes]]:
    """Per row, the `ranges` map as a dict: from the flat key and value
    arrays (a map column's to_pylist costs about twice the rest of the
    manifest's), one str object per column name; no column (a manifest
    written before it) → empty dicts."""
    if "ranges" not in t.column_names:
        return [{} for _ in range(t.num_rows)]
    col = t.column("ranges").combine_chunks()
    off = col.offsets.to_pylist()
    names: dict[str, str] = {}
    keys = [names.setdefault(k, k) for k in col.keys.to_pylist()]
    vals = col.items.to_pylist()
    return [
        dict(zip(keys[a:b], vals[a:b])) for a, b in zip(off, off[1:])
    ]


def _read_manifest(path: str) -> list[FileEntry]:
    cached = _MANIFEST_CACHE.get(path)
    if cached is not None:
        return list(cached)
    t = pq.read_table(path)
    ranges = _ranges_column(t)
    entries = [
        FileEntry.from_row(r, rg)
        for r, rg in zip(
            t.select([c for c in t.column_names if c != "ranges"]).to_pylist(),
            ranges,
        )
    ]
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.clear()
    _MANIFEST_CACHE[path] = entries
    return list(entries)


class Table:
    """One icelite table. Cheap to construct; metadata loaded lazily."""

    def __init__(self, spark: SparkSession, root: str, io: FileIO | None = None):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.io = io or default_io()
        self._meta: dict | None = None
        self._version: int = 0
        # writers on several driver threads sharing this Table (a streaming
        # query runs its foreachBatch on its own thread) serialize their
        # read-modify-write of (_meta, _version) here; cross-process
        # atomicity still comes from the FileIO's atomic create
        self._lock = threading.RLock()

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        partition_spec: PartitionSpec | None = None,
        identifier_fields: tuple[str, ...] = (),
        properties: dict[str, str] | None = None,
        io: FileIO | None = None,
        sort_order: tuple[str, ...] = (),
    ) -> "Table":
        root = os.path.abspath(root)
        io = io or default_io()
        meta_dir = os.path.join(root, "metadata")
        io.makedirs(os.path.join(meta_dir, "manifests"))
        io.makedirs(os.path.join(root, "data"))
        io.makedirs(os.path.join(root, "deletes"))
        props = {
            "format-version": "2",
            "write.target-file-size-bytes": str(DEFAULT_TARGET_FILE_SIZE),
            **(properties or {}),
        }
        # declared table sort order (O3): the reference tables carry PK-asc
        # sort order (IcebergUtil.java:210-217); honored by every data write
        # as a within-file sort unless the writer overrides it
        if sort_order:
            known = {f.name for f in schema.fields}
            bad = [c for c in sort_order if c not in known]
            if bad:
                raise ValueError(f"sort_order columns not in schema: {bad}")
        elif identifier_fields:
            sort_order = tuple(identifier_fields)
        meta = {
            "table_uuid": uuid.uuid4().hex,
            "location": root,
            "schema_json": schema.json(),
            "identifier_fields": list(identifier_fields),
            "sort_order": list(sort_order),
            "partition_spec": (partition_spec or PartitionSpec(())).to_json(),
            "properties": props,
            "last_sequence_number": 0,
            "last_snapshot_id": 0,
            "current_snapshot_id": None,
            "snapshots": [],
        }
        path = os.path.join(meta_dir, "v00001.metadata.json")
        if not io.atomic_create_json(path, meta):
            raise FileExistsError(f"table already exists at {root}")
        io.write_text_atomic(os.path.join(meta_dir, "version-hint.text"), "1")
        t = cls(spark, root, io=io)
        t._meta, t._version = meta, 1
        return t

    def _write_hint(self, meta_dir: str, version: int) -> None:
        self.io.write_text_atomic(
            os.path.join(meta_dir, "version-hint.text"), str(version)
        )

    @classmethod
    def load(cls, spark: SparkSession, root: str, io: FileIO | None = None) -> "Table":
        t = cls(spark, root, io=io)
        t.refresh()
        return t

    def refresh(self) -> "Table":
        meta_dir = os.path.join(self.root, "metadata")
        for attempt in range(2):
            versions = [
                (v, n)
                for n in self.io.list_dir(meta_dir)
                if (v := metadata_version(n)) is not None
            ]
            if not versions:
                raise FileNotFoundError(f"no icelite table at {self.root}")
            v, name = max(versions)
            try:
                text = self.io.read_text(os.path.join(meta_dir, name))
                break
            except FileNotFoundError:
                # expiry removes a version once a newer one exists, so the
                # version just listed can vanish before this read
                if attempt:
                    raise
        meta = json.loads(text)
        with self._lock:
            self._version, self._meta = v, meta
        return self

    # ----------------------------------------------------------- properties

    @property
    def meta(self) -> dict:
        if self._meta is None:
            self.refresh()
        return self._meta

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.meta["schema_json"]))

    @property
    def spec(self) -> PartitionSpec:
        return PartitionSpec.from_json(self.meta["partition_spec"])

    @property
    def identifier_fields(self) -> list[str]:
        return list(self.meta["identifier_fields"])

    @property
    def sort_order(self) -> list[str]:
        return list(self.meta.get("sort_order", []))

    @property
    def target_file_size(self) -> int:
        """`write.target-file-size-bytes`: the size rewrites pack files to."""
        return int(self.meta["properties"].get(
            "write.target-file-size-bytes", DEFAULT_TARGET_FILE_SIZE
        ))

    @property
    def current_snapshot_id(self) -> int | None:
        return self.meta["current_snapshot_id"]

    def snapshots(self) -> list[dict]:
        return list(self.meta["snapshots"])

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        raise KeyError(f"snapshot {sid} not found (expired?)")

    @staticmethod
    def _ancestor_ids(meta: dict) -> set[int]:
        """Ids of the current snapshot's ancestor chain (rollbacks jump to
        their target, so abandoned branches are excluded); tolerant of a
        chain broken by expiry — returns what is provably reachable."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        out: set[int] = set()
        cur = by_id.get(meta["current_snapshot_id"])
        while cur is not None and cur["snapshot_id"] not in out:
            out.add(cur["snapshot_id"])
            pid = (
                cur["summary"].get("rolled-back-to")
                if cur["operation"] == "rollback"
                else cur["parent_id"]
            )
            cur = by_id.get(pid) if pid is not None else None
        return out

    @staticmethod
    def _branch_lineage_ids(meta: dict, stop_ids: set[int] | None = None) -> set[int]:
        """Ids on any branch lineage: each branch head's parent chain,
        walked until it meets `stop_ids` (typically the current-lineage
        ancestors), an expired gap, or the root."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        stop = stop_ids or set()
        out: set[int] = set()
        for head in meta.get("branch_refs", {}).values():
            node = head
            while node is not None and node not in stop and node not in out:
                snap = by_id.get(node)
                if snap is None:
                    break
                out.add(node)
                node = snap["parent_id"]
        return out

    def snapshot_as_of(self, timestamp_ms: int) -> dict | None:
        """Newest retained snapshot committed at or before `timestamp_ms` —
        time-travel resolution (Iceberg's FOR TIMESTAMP AS OF; the analogue
        of the reference's SCN-to-time mapping). None if the table had no
        snapshot yet at that time; raises if history that old has been
        expired (same contract as Iceberg: travel past the retention window
        is an error, not a silent latest-read). UNPUBLISHED staged snapshots
        (stage-append outside the current lineage) and un-fast-forwarded
        BRANCH commits are never resolved — time-travel readers see only
        audited, published state; once a branch is fast-forwarded its
        commits join the current lineage and resolve normally."""
        ancestors = self._ancestor_ids(self.meta)
        candidates = [
            s
            for s in self.meta["snapshots"]
            if (
                s["operation"] != "stage-append"
                and "branch" not in s["summary"]
            )
            or s["snapshot_id"] in ancestors
        ]
        snaps = [s for s in candidates if s["timestamp_ms"] <= timestamp_ms]
        if snaps:
            return max(snaps, key=lambda s: s["snapshot_id"])
        if candidates:
            raise KeyError(
                f"no retained snapshot at or before {timestamp_ms} "
                f"(oldest retained: {candidates[0]['timestamp_ms']})"
            )
        return None

    def entries(self, snapshot_id: int | None = None) -> list[FileEntry]:
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        out: list[FileEntry] = []
        for m in snap["manifests"]:
            out.extend(_read_manifest(os.path.join(self.root, m)))
        return out

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    # ------------------------------------------------ metadata (inspect) tables
    # Iceberg's queryable metadata tables (SELECT * FROM tbl.files / .snapshots
    # / .partitions …; core/src MetadataTableType) re-expressed as DataFrames.
    # files/partitions/manifests are DISTRIBUTED reads over the snapshot's
    # manifest parquet files — at 100 TB a table has O(10^5-10^6) manifest
    # entries, which is itself a dataset, never a driver list. The O(snapshots)
    # tables (snapshots/history/refs) come off the metadata JSON on the driver,
    # which is exact and bounded by the retention window.

    _FILES_SCHEMA = StructType([
        StructField("content", IntegerType(), False),
        StructField("file_path", StringType(), False),
        StructField("partition_json", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("record_count", LongType(), False),
        StructField("file_size_bytes", LongType(), False),
        StructField("mins_json", StringType(), True),
        StructField("maxs_json", StringType(), True),
        StructField("nulls_json", StringType(), True),
        # null for entries of manifests written before the column existed
        StructField("ranges", MapType(StringType(), BinaryType()), True),
    ])

    def inspect_files(self, snapshot_id: int | None = None) -> DataFrame:
        """The `files` metadata table: one row per live data / delete file of
        the snapshot, straight off its manifests (content 0=data, 1=position
        deletes, 2=equality deletes), with per-file stats as JSON columns
        and the integral columns' packed interval summaries in `ranges`
        (null for entries of manifests written before it). Distributed:
        Spark scans the manifest parquet files directly."""
        snap = self.snapshot(snapshot_id)
        if snap is None or not snap["manifests"]:
            return self.spark.createDataFrame([], self._FILES_SCHEMA)
        return self.spark.read.schema(self._FILES_SCHEMA).parquet(
            *[self._abs(m) for m in snap["manifests"]]
        )

    def inspect_manifests(self, snapshot_id: int | None = None) -> DataFrame:
        """The `manifests` metadata table: one row per manifest with its
        entry counts by content kind — the input to manifest-rewrite
        planning. Grouped from the same distributed manifest scan."""
        snap = self.snapshot(snapshot_id)
        files = self.inspect_files(snapshot_id)
        if snap is None or not snap["manifests"]:
            files = files.withColumn("manifest_path", F.lit(None).cast("string"))
        else:
            files = files.withColumn(
                "manifest_path", F.col("_metadata.file_path")
            )
        return files.groupBy("manifest_path").agg(
            F.count("*").alias("entry_count"),
            F.sum(F.when(F.col("content") == DATA, 1).otherwise(0))
            .alias("data_file_count"),
            F.sum(F.when(F.col("content") != DATA, 1).otherwise(0))
            .alias("delete_file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("file_size_bytes"),
        )

    def inspect_partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """The `partitions` metadata table: per-partition live file / record
        / byte totals split by content kind. Pure metadata — answers "which
        partitions carry small-file debt / outstanding deletes" without
        touching a data file (what compaction planning reads)."""
        return self.inspect_files(snapshot_id).groupBy("partition_json").agg(
            F.sum(F.when(F.col("content") == DATA, 1).otherwise(0))
            .alias("data_file_count"),
            F.sum(F.when(F.col("content") == DATA, F.col("record_count"))
                  .otherwise(0)).alias("data_record_count"),
            F.sum(F.when(F.col("content") == DATA, F.col("file_size_bytes"))
                  .otherwise(0)).alias("data_size_bytes"),
            F.sum(F.when(F.col("content") == POS_DELETES, 1).otherwise(0))
            .alias("pos_delete_file_count"),
            F.sum(F.when(F.col("content") == POS_DELETES, F.col("record_count"))
                  .otherwise(0)).alias("pos_delete_record_count"),
            F.sum(F.when(F.col("content") == EQ_DELETES, 1).otherwise(0))
            .alias("eq_delete_file_count"),
            F.sum(F.when(F.col("content") == EQ_DELETES, F.col("record_count"))
                  .otherwise(0)).alias("eq_delete_record_count"),
        )

    _SNAPSHOTS_SCHEMA = StructType([
        StructField("snapshot_id", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("timestamp_ms", LongType(), False),
        StructField("operation", StringType(), False),
        StructField("sequence_number", LongType(), True),
        StructField("manifest_count", IntegerType(), False),
        StructField("summary_json", StringType(), False),
    ])

    def inspect_snapshots(self) -> DataFrame:
        """The `snapshots` metadata table: every retained snapshot with its
        operation and summary (JSON)."""
        rows = [
            {
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "timestamp_ms": s["timestamp_ms"],
                "operation": s["operation"],
                "sequence_number": s.get("sequence_number"),
                "manifest_count": len(s["manifests"]),
                "summary_json": json.dumps(s["summary"], sort_keys=True),
            }
            for s in self.meta["snapshots"]
        ]
        return self.spark.createDataFrame(rows, self._SNAPSHOTS_SCHEMA)

    _HISTORY_SCHEMA = StructType([
        StructField("made_current_at_ms", LongType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("is_current_ancestor", BooleanType(), False),
    ])

    def inspect_history(self) -> DataFrame:
        """The `history` metadata table: every retained snapshot in commit
        order, flagged with whether it is on the CURRENT lineage (rollbacks
        and un-merged branches/stages show as non-ancestors — the rows a
        reader must not time-travel through)."""
        ancestors = self._ancestor_ids(self.meta)
        rows = [
            {
                "made_current_at_ms": s["timestamp_ms"],
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "is_current_ancestor": s["snapshot_id"] in ancestors,
            }
            for s in self.meta["snapshots"]
        ]
        return self.spark.createDataFrame(rows, self._HISTORY_SCHEMA)

    _REFS_SCHEMA = StructType([
        StructField("name", StringType(), False),
        StructField("type", StringType(), False),
        StructField("snapshot_id", LongType(), False),
    ])

    def inspect_refs(self) -> DataFrame:
        """The `refs` metadata table: named tags (immutable) and branches
        (mutable heads), plus `main` = current."""
        rows = [
            {"name": n, "type": "tag", "snapshot_id": sid}
            for n, sid in self.meta.get("refs", {}).items()
        ] + [
            {"name": n, "type": "branch", "snapshot_id": sid}
            for n, sid in self.meta.get("branch_refs", {}).items()
        ]
        if self.current_snapshot_id is not None:
            rows.append({"name": "main", "type": "branch",
                         "snapshot_id": self.current_snapshot_id})
        return self.spark.createDataFrame(rows, self._REFS_SCHEMA)

    # ---------------------------------------------------------------- scan

    def scan(
        self,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        predicates: list[tuple[str, str, Any]] | None = None,
        with_partition_cols: bool = False,
        with_file_seq: bool = False,
        with_input_file: bool = False,
        with_pos: bool = False,
        file_filter: set[str] | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-pinned read with manifest-level pruning + delete application.

        `predicates` is a conjunction of (col, op, literal), op ∈
        {==, <, <=, >, >=}: used for min/max file pruning AND re-applied as a
        DataFrame filter (so Catalyst pushes it into the parquet scan too —
        correctness never depends on pruning).

        `as_of_ms` time-travels: the scan pins the newest snapshot committed
        at or before that wall-clock ms (FOR TIMESTAMP AS OF).
        """
        if as_of_ms is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or as_of_ms, not both")
            snap = self.snapshot_as_of(as_of_ms)
            if snap is None:
                return self.spark.createDataFrame([], self._scan_schema(columns))
            snapshot_id = snap["snapshot_id"]
        entries = self.entries(snapshot_id)
        data = [e for e in entries if e.content == DATA]
        dels = [e for e in entries if e.content == EQ_DELETES]
        pos_dels = [e for e in entries if e.content == POS_DELETES]
        if file_filter is not None:
            data = [e for e in data if e.file_path in file_filter]
            # deletes newer than every selected file still apply (kept in full)
        if predicates:
            data = [e for e in data if _may_match(e, predicates)]
        if not data:
            return self.spark.createDataFrame([], self._scan_schema(columns))

        need_seq = bool(dels) or with_file_seq
        # explicit schema: no per-call footer sampling on the driver (matters
        # when many concurrent maintenance chunks each open a scan)
        reader = self.spark.read.schema(self.schema)

        need_pos = bool(pos_dels) or with_pos
        # byte offset of the path component after "<abs root>/" — positional
        # strip, no regex-escaping of the root path needed
        _rel_start = len(os.path.abspath(self.root)) + 2

        def _tag_file(d: DataFrame) -> DataFrame:
            # evaluated at the scan, before any join/union, where
            # input_file_name() / _metadata are guaranteed to resolve
            if with_input_file:
                d = d.withColumn("_input_file", uri_path(F.input_file_name()))
            if need_pos:
                # parquet hidden metadata columns: stable row identity
                # (file, row-ordinal) with zero read amplification — the
                # Spark-native stand-in for Iceberg's file_path/pos virtual
                # columns that positional deletes key on. Files imported by
                # reference (add_files) live OUTSIDE the table root and are
                # manifested by absolute path — the tag must match the
                # manifest key either way: root-relative for owned files,
                # absolute for imported ones.
                full = uri_path(F.col("_metadata.file_path"))
                d = d.withColumn(
                    "_file_path",
                    F.when(
                        full.startswith(
                            os.path.abspath(self.root) + os.sep
                        ),
                        F.substring(full, _rel_start, 1 << 30),
                    ).otherwise(full),
                ).withColumn("_pos", F.col("_metadata.row_index"))
            return d

        if not need_seq:
            df = _tag_file(
                reader.parquet(*[self._abs(e.file_path) for e in data])
            )
        else:
            # deletes apply to strictly-older files → tag rows with their
            # file's commit sequence number (one read per distinct seq,
            # unioned; commit count is small and shrinks under compaction)
            by_seq: dict[int, list[str]] = {}
            for e in data:
                by_seq.setdefault(e.seq, []).append(self._abs(e.file_path))
            parts = []
            for seq, paths in sorted(by_seq.items()):
                parts.append(
                    _tag_file(reader.parquet(*paths))
                    .withColumn("_seq", F.lit(seq))
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            if dels:
                df = self._apply_deletes(df, dels)

        if pos_dels:
            df = self._apply_pos_deletes(df, pos_dels, data)
        if predicates:
            df = df.filter(_pred_expr(predicates))
        if with_partition_cols:
            # recompute partition values from row values with the CURRENT
            # spec's transform expressions (deterministic — the same
            # expressions produced the write paths) instead of inferring
            # them from directory layout: the scan stays correct across
            # partition-spec evolution, where live files written under an
            # older spec have a different directory shape
            df = self.spec.apply(df)
        keep = columns or [f.name for f in self.schema.fields]
        extra = (
            (self.spec.names if with_partition_cols else [])
            + (["_seq"] if with_file_seq else [])
            + (["_input_file"] if with_input_file else [])
            + (["_file_path", "_pos"] if with_pos else [])
        )
        return df.select(*keep, *extra)

    def incremental_scan(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg-style incremental APPEND scan: rows ADDED by append /
        rowdelta commits in (`from_snapshot_id`, `to_snapshot_id`] — the feed
        a downstream pipeline tails to process only what's new. Rewrite
        snapshots (compact / cluster / manifest / purge) are skipped: they
        move bytes, not logical rows, so their outputs never re-surface as
        "new". Equality deletes committed in the window are NOT applied
        (append-scan contract, same as Iceberg's incremental read); consumers
        needing delete-aware increments tail the CDC feed instead.

        A commit's added files are exactly the manifests it holds that its
        parent didn't — append/rowdelta commits never rewrite manifests, so
        the diff is precise. The window is the PARENT CHAIN from `to` back to
        `from` (never list positions): rollback side-branches are excluded by
        construction, and a chain broken by snapshot expiry — or a `from`
        that is not an ancestor of `to` — raises instead of returning rows
        that were never "new" in that lineage (Iceberg's incremental read
        has the same contract)."""
        chain = self._ancestor_chain(from_snapshot_id, to_snapshot_id)
        added: list[FileEntry] = []
        for s in chain:
            # stage-append counts once PUBLISHED: a staged snapshot reaches
            # the parent chain of `to` only through publish (or as the
            # source of a cherrypick, which re-adds its files itself), so
            # its rows are genuine adds here — excluding it would silently
            # drop every WAP-ingested row from the incremental feed
            if s["operation"] not in (
                "append", "rowdelta", "stage-append", "cherrypick"
            ):
                continue
            added.extend(
                e for e in self._added_entries(s) if e.content == DATA
            )
        if not added:
            return self.spark.createDataFrame([], self._scan_schema(columns))
        df = self.spark.read.schema(self.schema).parquet(
            *[self._abs(e.file_path) for e in added]
        )
        return df.select(*(columns or [f.name for f in self.schema.fields]))

    def _ancestor_chain(
        self, from_snapshot_id: int, to_snapshot_id: int | None
    ) -> list[dict]:
        """Snapshots on the parent chain (`from`, `to`], oldest → newest.
        Rollback commits re-parent onto their target, excluding the
        abandoned branch; a chain broken by expiry, or a `from` that is not
        an ancestor of `to`, raises (never silently returns wrong rows)."""
        snaps = self.meta["snapshots"]
        by_id = {s["snapshot_id"]: s for s in snaps}
        if from_snapshot_id not in by_id:
            raise KeyError(f"snapshot {from_snapshot_id} not found (expired?)")
        if to_snapshot_id is None:
            to_snapshot_id = self.current_snapshot_id
        if to_snapshot_id not in by_id:
            raise KeyError(f"snapshot {to_snapshot_id} not found (expired?)")
        chain: list[dict] = []  # to → … → child-of-from, walked backwards
        cur = by_id[to_snapshot_id]
        while cur["snapshot_id"] != from_snapshot_id:
            chain.append(cur)
            # a rollback logically re-parents history onto its target: the
            # abandoned branch between target and the rollback must never
            # surface in the incremental feed (its rows were un-committed)
            pid = (
                cur["summary"].get("rolled-back-to")
                if cur["operation"] == "rollback"
                else cur["parent_id"]
            )
            if pid is None:
                raise ValueError(
                    f"snapshot {from_snapshot_id} is not an ancestor of "
                    f"{to_snapshot_id}"
                )
            nxt = by_id.get(pid)
            if nxt is None:
                raise KeyError(
                    f"incremental history broken: parent snapshot {pid} "
                    f"expired — widen retention or tag snapshots to keep "
                    f"the chain"
                )
            cur = nxt
        chain.reverse()
        return chain

    def _added_entries(self, snap: dict) -> list[FileEntry]:
        """Manifest entries a commit added: exactly the manifests it holds
        that its parent didn't (append-class commits never rewrite
        manifests, so the diff is precise)."""
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        parent = (
            by_id.get(snap["parent_id"])
            if snap["parent_id"] is not None
            else None
        )
        parent_manifests = set(parent["manifests"]) if parent else set()
        out: list[FileEntry] = []
        for m in snap["manifests"]:
            if m in parent_manifests:
                continue
            out.extend(_read_manifest(self._abs(m)))
        return out

    def _entry_diff(self, snap: dict) -> tuple[list[FileEntry], list[FileEntry]]:
        """File-level (added, removed) manifest-entry diff vs the parent
        snapshot. For commits that only APPEND manifests this is the cheap
        `_added_entries` diff with nothing removed; for commits that REWRITE
        manifests to drop files (overwrite_partitions), the manifest-level
        diff would misreport every surviving entry of a rewritten manifest
        as added, so the diff falls back to exact per-file set comparison
        (reads parent + snapshot manifests once)."""
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        parent = (
            by_id.get(snap["parent_id"])
            if snap["parent_id"] is not None
            else None
        )
        if parent is None or set(parent["manifests"]) <= set(snap["manifests"]):
            return self._added_entries(snap), []

        def live(s: dict) -> dict[str, FileEntry]:
            return {
                e.file_path: e
                for m in s["manifests"]
                for e in _read_manifest(self._abs(m))
            }

        cur, par = live(snap), live(parent)
        return (
            [e for p, e in cur.items() if p not in par],
            [e for p, e in par.items() if p not in cur],
        )

    def changelog_scan(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg-style CHANGELOG scan: the row-level change feed over
        (`from`, `to`] — every row with `_change_type` ('insert'|'delete')
        and `_change_ordinal` (1-based position of its commit on the parent
        chain). Unlike `incremental_scan` (append contract), this is the
        delete-aware CDC read a downstream sync tails:

        - append / published stage-append → inserts;
        - rowdelta (MERGE upsert) → deletes of the replaced rows (the
          parent-snapshot rows matching the commit's equality-delete keys)
          plus inserts of the new versions — classic upsert CDC pairs;
        - delete (delete_where) → deletes of the marked rows, read back by
          joining the commit's positional-delete (file_path, pos) marks
          against the parent snapshot, touched files only;
        - overwrite (update_where) → delete+insert pairs;
        - overwrite (overwrite_partitions) → deletes of every live row of
          the replaced partitions (the commit's REMOVED data files read at
          the parent snapshot, older delete files applied — exact
          before-images) plus inserts of the replacement rows;
        - rewrites (compact / cluster / manifests / purge) move bytes, not
          logical rows: skipped.

        Deleted rows are materialized from the PARENT snapshot, so the feed
        carries full before-images, not just keys."""
        chain = self._ancestor_chain(from_snapshot_id, to_snapshot_id)
        out_cols = columns or [f.name for f in self.schema.fields]
        empty = StructType(
            list(self._scan_schema(out_cols).fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_change_ordinal", IntegerType(), False),
            ]
        )
        parts: list[DataFrame] = []

        def emit(df: DataFrame, kind: str, ordinal: int) -> None:
            parts.append(
                df.select(*out_cols)
                .withColumn("_change_type", F.lit(kind))
                .withColumn("_change_ordinal", F.lit(ordinal))
            )

        for ordinal, s in enumerate(chain, 1):
            op = s["operation"]
            if op not in (
                "append", "rowdelta", "stage-append", "delete", "overwrite",
                "cherrypick",
            ):
                continue
            added, removed = self._entry_diff(s)
            data_added = [e for e in added if e.content == DATA]
            eq_added = [e for e in added if e.content == EQ_DELETES]
            pos_added = [e for e in added if e.content == POS_DELETES]
            data_removed = [e for e in removed if e.content == DATA]
            pid = s["parent_id"]
            if data_removed and pid is not None:
                # replace-partitions: every surviving parent-snapshot row of
                # the dropped files is retracted (file-pruned parent read,
                # older deletes applied — never a full-table scan)
                emit(
                    self.scan(
                        snapshot_id=pid,
                        file_filter={e.file_path for e in data_removed},
                    ),
                    "delete",
                    ordinal,
                )
            if eq_added and pid is not None:
                keys = (
                    self.spark.read.parquet(
                        *[self._abs(e.file_path) for e in eq_added]
                    )
                    .select(*self.identifier_fields)
                    .distinct()
                )
                if (
                    sum(e.record_count for e in eq_added)
                    <= BROADCAST_DELETE_ROWS
                ):
                    keys = F.broadcast(keys)
                emit(
                    self.scan(snapshot_id=pid).join(
                        keys, self.identifier_fields, "left_semi"
                    ),
                    "delete",
                    ordinal,
                )
            if pos_added and pid is not None:
                marks = self.spark.read.parquet(
                    *[self._abs(e.file_path) for e in pos_added]
                ).select(
                    F.col("file_path").alias("_file_path"),
                    F.col("pos").alias("_pos"),
                )
                # touched files only: collect is bounded by FILE count
                refd = {
                    r[0]
                    for r in marks.select("_file_path").distinct().collect()
                }
                if (
                    sum(e.record_count for e in pos_added)
                    <= BROADCAST_DELETE_ROWS
                ):
                    marks = F.broadcast(marks)
                emit(
                    self.scan(
                        snapshot_id=pid, with_pos=True, file_filter=refd
                    ).join(marks, ["_file_path", "_pos"], "left_semi"),
                    "delete",
                    ordinal,
                )
            if data_added:
                emit(
                    self.spark.read.schema(self.schema).parquet(
                        *[self._abs(e.file_path) for e in data_added]
                    ),
                    "insert",
                    ordinal,
                )
        if not parts:
            return self.spark.createDataFrame([], empty)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _scan_schema(self, columns: list[str] | None) -> StructType:
        s = self.schema
        if columns is None:
            return s
        return StructType([f for f in s.fields if f.name in set(columns)])

    def _apply_deletes(self, df: DataFrame, dels: list[FileEntry]) -> DataFrame:
        keys = self.identifier_fields
        # The authoritative delete sequence is the MANIFEST entry's seq (one
        # read per distinct seq, the same pattern the data side uses): batch
        # writers bake a matching _delete_seq column into the rows, but the
        # streaming upsert sink cannot — executor tasks write key files
        # before the commit seq exists — so the column is informational only.
        by_seq: dict[int, list[str]] = {}
        for e in dels:
            by_seq.setdefault(e.seq, []).append(self._abs(e.file_path))
        parts = [
            self.spark.read.parquet(*paths)
            .select(*keys)
            .withColumn("_delete_seq", F.lit(seq))
            for seq, paths in sorted(by_seq.items())
        ]
        ddf = parts[0]
        for p in parts[1:]:
            ddf = ddf.unionByName(p)
        # one aggregated row per key: the newest delete's sequence number
        agg = ddf.groupBy(*keys).agg(F.max("_delete_seq").alias("_max_del_seq"))
        est_rows = sum(e.record_count for e in dels)
        if est_rows <= BROADCAST_DELETE_ROWS:
            agg = F.broadcast(agg)
        joined = df.join(agg, on=keys, how="left")
        return joined.filter(
            F.col("_max_del_seq").isNull() | (F.col("_max_del_seq") <= F.col("_seq"))
        ).drop("_max_del_seq")

    def _apply_pos_deletes(
        self, df: DataFrame, pos_dels: list[FileEntry], data: list[FileEntry]
    ) -> DataFrame:
        """Anti-join rows against positional-delete files (content=1).

        Pos-deletes reference exact (file_path, pos) pairs and data file
        names are uuid-unique (never reused after a rewrite), so a plain
        anti-join is exact — no sequence-number comparison is needed: a
        delete against a since-rewritten file simply matches nothing.
        Delete files whose [min,max] file_path range misses every selected
        data file are pruned before any read."""
        import bisect

        sel = sorted(e.file_path for e in data)
        live: list[FileEntry] = []
        for e in pos_dels:
            lo, hi = e.mins.get("file_path"), e.maxs.get("file_path")
            if lo is None or hi is None:
                live.append(e)  # no stats → conservatively keep
                continue
            i = bisect.bisect_left(sel, lo)
            if i < len(sel) and sel[i] <= hi:
                live.append(e)
        if not live:
            return df
        pdel = self.spark.read.parquet(
            *[self._abs(e.file_path) for e in live]
        ).select(
            F.col("file_path").alias("_file_path"), F.col("pos").alias("_pos")
        )
        if sum(e.record_count for e in live) <= BROADCAST_DELETE_ROWS:
            pdel = F.broadcast(pdel)
        return df.join(pdel, ["_file_path", "_pos"], "left_anti")

    # --------------------------------------------------------------- writes

    def _next_ids(self, meta: dict) -> tuple[int, int]:
        return meta["last_sequence_number"] + 1, meta["last_snapshot_id"] + 1

    def _stage_write(
        self,
        df: DataFrame,
        seq: int,
        max_records_per_file: int | None = None,
        sort_within_by: list[str] | None = None,
        group_col: str | None = None,
    ) -> list[FileEntry] | dict[int, list[FileEntry]]:
        """Write data files into <root>/data/ and return manifest entries.

        Each write job gets its own `data/<seq>-<uuid>/` directory, and the
        files stay where Spark's commit left them — no rename. Partition
        columns are materialized and hive-encoded into directories under it
        (Spark `partitionBy`), mirroring the reference's partition-path
        routing (parquet.go:310-368).

        `group_col` names an integer column that tags each row with its unit
        of commit (a compaction bin, a backfill chunk). It leads the
        partition directories, and the entries come back as
        {group id: entries} so the caller can commit groups separately.
        """
        spec = self.spec
        out = spec.apply(df)
        lead = [group_col] if group_col else []
        if sort_within_by is None:
            # honor the declared table sort order (O3) by default; callers
            # with their own layout (cluster rewrite) pass [] to opt out
            sort_within_by = self.sort_order
        if sort_within_by:
            # lead with the partition columns: the partitioned file writer
            # requires rows ordered by partition expression — satisfying it
            # here means no writer-side re-sort erases the within-file order
            out = out.sortWithinPartitions(*lead, *spec.names, *sort_within_by)
        # image payloads are already entropy-coded — recompressing them in
        # parquet burns CPU for ~0% ratio; tables opt in via the property
        codec = self.meta["properties"].get(
            "write.parquet.compression-codec", "snappy"
        )
        w = out.write.mode("overwrite").option("compression", codec)
        # per write, not session-wide: Spark copies write options into the
        # job's Hadoop conf, which parquet-mr reads per column
        for col in unstated_columns(out.schema):
            w = w.option(f"parquet.column.statistics.enabled#{col}", "false")
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        if lead or spec.fields:
            w = w.partitionBy(*lead, *spec.names)
        groups = self._write_job(w, seq, DATA, group_col)
        return groups if group_col else groups.get(None, [])

    def _write_job(
        self,
        writer: DataFrameWriter,
        seq: int,
        content: int,
        group_col: str | None = None,
    ) -> dict[int | None, list[FileEntry]]:
        """Run a Spark parquet write into a fresh job directory and turn its
        output into manifest entries: the one place that harvests footer
        stats.

        Data files land under `data/<seq>-<uuid>/`, delete files under
        `deletes/<seq>-<uuid>/` (no leading dot: Spark's reader skips hidden
        path components). Iceberg paths are opaque, so each parquet file is
        recorded at the path Spark wrote; a crash before the commit leaves
        only unreferenced files, which `remove_orphan_files` reaps. Empty
        files (the reference deletes them too, parquet.go:210-283) and
        Spark's side files (`_SUCCESS`, `.crc`) go in ONE bulk FileIO call.
        Entries are keyed by the value of the leading `group_col` directory,
        or None without one.
        """
        base = os.path.join(self.root, "data" if content == DATA else "deletes")
        job = os.path.join(base, f"{seq:06d}-{uuid.uuid4().hex}")
        try:
            writer.parquet(job)
        except Exception:
            self.io.rmtree(job)
            raise
        written: list[tuple[int | None, str, dict]] = []  # (group, path, partition)
        junk: list[str] = []
        for path, _mtime in self.io.walk_files(job):
            if not path.endswith(".parquet"):
                junk.append(path)
                continue
            rel_dir = os.path.relpath(os.path.dirname(path), job)
            comps = [] if rel_dir == "." else rel_dir.split(os.sep)
            group = int(comps.pop(0).split("=", 1)[1]) if group_col else None
            written.append((group, path, _parse_partition(os.sep.join(comps))))

        stats = collect_file_stats(
            self.spark, [p for _, p, _ in written], ranges=content == DATA
        )
        groups: dict[int | None, list[FileEntry]] = {}
        for group, path, partition in written:
            st = stats[path]
            if st["record_count"] == 0:
                junk.append(path)
                continue
            groups.setdefault(group, []).append(
                FileEntry(
                    content, os.path.relpath(path, self.root), partition, seq,
                    st["record_count"], st["file_size_bytes"],
                    st["mins"], st["maxs"], st["null_counts"], st["ranges"],
                )
            )
        if junk:
            self.io.remove_many(junk)
        return groups

    def _write_delete_files(self, keys_df: DataFrame, seq: int) -> list[FileEntry]:
        w = keys_df.select(*self.identifier_fields).withColumn(
            "_delete_seq", F.lit(seq)
        ).write.mode("overwrite")
        return self._write_job(w, seq, EQ_DELETES).get(None, [])

    def _write_pos_delete_files(
        self, hits: DataFrame, seq: int, n_files: int | None = None
    ) -> list[FileEntry]:
        """Positional-delete files: rows of (file_path, pos), sorted within
        each file by that pair (Iceberg's required pos-delete sort order —
        makes the scan-side merge streamable) and shuffled by file_path so
        deletes against one data file land together. `n_files` pins the
        output file count (consolidation rewrites); default lets the
        session's shuffle parallelism decide."""
        sel = hits.select("file_path", "pos")
        part = (
            sel.repartition(n_files, F.col("file_path"))
            if n_files
            else sel.repartition(F.col("file_path"))
        )
        w = part.sortWithinPartitions("file_path", "pos").write.mode("overwrite")
        return self._write_job(w, seq, POS_DELETES).get(None, [])

    def _new_manifest(self, entries: list[FileEntry]) -> str:
        rel = os.path.join("metadata", "manifests", f"mf-{uuid.uuid4().hex}.parquet")
        path = self._abs(rel)
        _write_manifest(path, entries)
        _MANIFEST_CACHE[path] = list(entries)
        return rel

    # --------------------------------------------------------------- commit

    def _commit(self, build: Callable[[dict], dict], retries: int = 20) -> dict:
        """Optimistic commit loop. `build(meta) -> new_meta` re-derives the new
        metadata from a fresh base each attempt; O_EXCL create of the next
        versioned metadata file decides the winner."""
        meta_dir = os.path.join(self.root, "metadata")
        with self._lock:
            for _ in range(retries):
                self.refresh()
                new_meta = build(dict(self.meta))
                target = os.path.join(
                    meta_dir, f"v{self._version + 1:05d}.metadata.json"
                )
                if not self.io.atomic_create_json(target, new_meta):
                    time.sleep(0.05)
                    continue
                self._write_hint(meta_dir, self._version + 1)
                self._meta, self._version = new_meta, self._version + 1
                return new_meta["snapshots"][-1] if new_meta["snapshots"] else {}
            raise CommitConflict(f"gave up after {retries} commit attempts")

    def _snapshot_dict(
        self, meta: dict, snap_id: int, seq: int, op: str,
        manifests: list[str], summary: dict,
        parent_id: int | None | str = "__current__",
    ) -> dict:
        return {
            "snapshot_id": snap_id,
            "parent_id": (
                meta["current_snapshot_id"]
                if parent_id == "__current__"
                else parent_id
            ),
            "sequence_number": seq,
            "timestamp_ms": int(time.time() * 1000),
            "operation": op,
            "manifests": manifests,
            "summary": summary,
        }

    def _commit_snapshot(
        self, op: str,
        added: list[FileEntry],
        removed_paths: set[str] | None = None,
        extra_summary: dict | None = None,
        seq_used: int | None = None,
        known_delete_paths: set[str] | None = None,
        make_current: bool = True,
        require_live_paths: set[str] | None = None,
        branch: str | None = None,
        txn: tuple[str, int] | None = None,
        restamp_seq: bool = False,
        conflict_if_new_data_in: set[str] | None = None,
    ) -> dict:
        """`restamp_seq`: re-stamp every `added` entry with the sequence
        number computed from FRESH metadata on each CAS attempt. Without it,
        a commit that loses the CAS race to a concurrent writer retries with
        its pre-computed (now stale) seq — the winner and the retry then
        share one sequence number, and an equality delete in this commit no
        longer kills the concurrent commit's rows ("strictly older" compares
        equal). Any commit whose entries all belong to ONE new sequence
        number (append, rowdelta, the streaming sinks) should pass it;
        commits that must PRESERVE per-entry seqs (clone, import,
        cherry-pick) must not. Restamping the manifest is sufficient: delete
        reconciliation takes the sequence from the manifest entry, not from
        file contents (_apply_deletes).

        `txn` = (app_id, version): idempotent-writer transaction (the
        Iceberg/Delta txnAppId/txnVersion pattern a streaming foreachBatch
        sink needs — a micro-batch replayed after a crash between commit and
        checkpoint must not apply twice). The version is recorded in table
        properties ATOMICALLY with the snapshot; a commit whose version is
        ≤ the recorded one returns `{"skipped": True, ...}` and its staged
        files are removed. The check runs inside the CAS build, so two
        racing writers with the same txn can never both commit.

        `branch`: when set, the commit's base (and parent) is the named
        branch's head instead of the table's current snapshot, and the
        branch ref — not current — advances to the new snapshot. Main stays
        untouched until `fast_forward`.

        `known_delete_paths`: when set, the commit validates that no
        delete file (equality OR positional) beyond that set exists in the
        fresh base — the validateNoNewDeleteFiles guard a rewrite needs:
        rows it re-writes get a NEW sequence number / file path, so a delete
        committed concurrently (which kills strictly-older files, or exact
        old paths) would silently resurrect them. On violation the commit
        raises CommitConflict; the caller re-plans from fresh metadata
        (re-running the bin re-reads the post-delete state).

        `require_live_paths`: the mirror-image guard for a positional-delete
        commit — every data file it references must still be live in the
        fresh base, else the marked rows were concurrently rewritten into
        new paths the delete doesn't match (validateDataFilesExist)."""
        removed_paths = removed_paths or set()

        def build(meta: dict) -> dict:
            if txn is not None:
                recorded = meta["properties"].get(f"txn.{txn[0]}")
                if recorded is not None and int(recorded) >= txn[1]:
                    raise TxnAlreadyApplied(
                        f"txn {txn[0]} version {txn[1]} already applied "
                        f"(recorded {recorded})"
                    )
            seq = seq_used if seq_used is not None else meta["last_sequence_number"] + 1
            entries = added
            if restamp_seq:
                seq = meta["last_sequence_number"] + 1
                entries = [dataclasses.replace(e, seq=seq) for e in added]
            snap_id = meta["last_snapshot_id"] + 1
            if branch is not None:
                head = meta.get("branch_refs", {}).get(branch)
                if head is None:
                    raise KeyError(f"no branch {branch!r}")
                base_id = head
            else:
                base_id = meta["current_snapshot_id"]
            cur = next(
                (s for s in meta["snapshots"] if s["snapshot_id"] == base_id),
                None,
            )
            manifests = list(cur["manifests"]) if cur else []
            if known_delete_paths is not None and cur is not None:
                live_dels = {
                    e.file_path
                    for m in manifests
                    for e in _read_manifest(self._abs(m))
                    if e.content != DATA
                }
                new_dels = live_dels - known_delete_paths
                if new_dels:
                    raise CommitConflict(
                        f"concurrent delete commit(s) {sorted(new_dels)[:3]} "
                        f"would be invalidated by this rewrite — re-run it"
                    )
            if require_live_paths:
                live_data = {
                    e.file_path
                    for m in manifests
                    for e in _read_manifest(self._abs(m))
                    if e.content == DATA
                }
                gone = require_live_paths - live_data
                if gone:
                    raise CommitConflict(
                        f"data files referenced by this positional delete were "
                        f"rewritten concurrently: {sorted(gone)[:3]} — re-run it"
                    )
            if conflict_if_new_data_in:
                # validateNoConflictingData: a data file that landed in one
                # of these partitions concurrently (not in our removal plan)
                # would survive a replace that promised to clear them. A
                # file under a DIFFERENT partition layout (concurrent spec
                # evolution + append) cannot be matched by partition value
                # at all, so it conflicts unconditionally — partition-dict
                # equality is only meaningful within one layout.
                expected_keys = set(
                    json.loads(next(iter(conflict_if_new_data_in)))
                )
                unexpected = [
                    e.file_path
                    for m in manifests
                    for e in _read_manifest(self._abs(m))
                    if e.content == DATA
                    and e.file_path not in removed_paths
                    and (
                        json.dumps(e.partition, sort_keys=True)
                        in conflict_if_new_data_in
                        or set(e.partition) != expected_keys
                    )
                ]
                if unexpected:
                    raise CommitConflict(
                        f"validateNoConflictingData: {len(unexpected)} data "
                        f"file(s) landed concurrently in partition(s) this "
                        f"commit replaces (or under a different layout): "
                        f"{sorted(unexpected)[:3]} — re-plan from fresh "
                        "metadata"
                    )
            if removed_paths:
                live = set()
                keep: list[str] = []
                for m in manifests:
                    ents = _read_manifest(self._abs(m))
                    live.update(e.file_path for e in ents)
                    hit = [e for e in ents if e.file_path in removed_paths]
                    if not hit:
                        keep.append(m)
                    else:
                        rest = [e for e in ents if e.file_path not in removed_paths]
                        if rest:
                            keep.append(self._new_manifest(rest))
                missing = removed_paths - live
                if missing:
                    raise CommitConflict(f"files no longer live: {sorted(missing)[:3]}…")
                manifests = keep
            if added:
                manifests.append(self._new_manifest(entries))
            summary = {
                "added-files": len(entries),
                "removed-files": len(removed_paths),
                "added-records": sum(e.record_count for e in entries),
                # marker lets time-travel resolution skip un-merged branch
                # commits the same way it skips unpublished stage-appends
                **({"branch": branch} if branch is not None else {}),
                **(extra_summary or {}),
            }
            new = dict(meta)
            if txn is not None:
                new["properties"] = {
                    **meta["properties"], f"txn.{txn[0]}": str(txn[1])
                }
            new["last_sequence_number"] = max(seq, meta["last_sequence_number"])
            new["last_snapshot_id"] = snap_id
            if branch is not None:
                new["branch_refs"] = {
                    **meta.get("branch_refs", {}), branch: snap_id
                }
            elif make_current:
                new["current_snapshot_id"] = snap_id
            new["snapshots"] = meta["snapshots"] + [
                self._snapshot_dict(
                    meta, snap_id, seq, op, manifests, summary,
                    parent_id=base_id if branch is not None else "__current__",
                )
            ]
            return new

        try:
            return self._commit(build)
        except TxnAlreadyApplied:
            if added:
                # Discard only files this op STAGED (root-relative manifest
                # paths). Absolute paths are by-reference imports
                # (add_files of external parquet) — the engine never wrote
                # them and must never delete them, even on a raced replay
                # that loses the in-CAS txn check after the pre-staging
                # _txn_applied check passed.
                self.io.remove_many(
                    [
                        self._abs(e.file_path)
                        for e in added
                        if not os.path.isabs(e.file_path)
                    ]
                )
            self.refresh()
            return {
                "skipped": True,
                "operation": op,
                "snapshot_id": self.current_snapshot_id,
            }

    # ------------------------------------------------------------ public ops

    def _txn_applied(self, txn: tuple[str, int] | None) -> dict | None:
        """Fast pre-staging check (fresh metadata): skip the whole write when
        the transaction version is already recorded. The authoritative check
        still runs inside the commit CAS — this just avoids staging files
        that would be discarded."""
        if txn is None:
            return None
        recorded = self.meta["properties"].get(f"txn.{txn[0]}")
        if recorded is not None and int(recorded) >= txn[1]:
            return {
                "skipped": True,
                "snapshot_id": self.current_snapshot_id,
            }
        return None

    def append(
        self, df: DataFrame, max_records_per_file: int | None = None,
        sort_within_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        self.refresh()
        skip = self._txn_applied(txn)
        if skip is not None:
            return {**skip, "operation": "append"}
        seq = self.meta["last_sequence_number"] + 1
        entries = self._stage_write(df, seq, max_records_per_file, sort_within_by)
        return self._commit_snapshot(
            "append", entries, seq_used=seq, txn=txn, restamp_seq=True
        )

    def overwrite_partitions(
        self, df: DataFrame, max_records_per_file: int | None = None,
        sort_within_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        retries: int = 5,
        validate: bool = False,
    ) -> dict:
        """Dynamic partition overwrite — Iceberg's ReplacePartitions
        operation (Spark `INSERT OVERWRITE` / `writeTo(t).
        overwritePartitions()`): atomically replace EXACTLY the partitions
        the incoming rows land in. On an unpartitioned table this is a
        full-table replace, matching Spark's semantics.

        The delete side is metadata-only: every live data file whose
        partition tuple matches a partition the staged write touched is
        dropped from the manifest — each data file belongs to exactly one
        partition by construction (`_stage_write` partitions by the spec) —
        so the commit costs one write job for the new rows plus a manifest
        rewrite; no row-level delete files are produced, and scans never
        pay a reconciliation join for it. Delete files are left in place:
        equality deletes kill strictly-older sequence numbers only (the
        replacement rows are newer), and positional deletes referencing
        dropped files match nothing (purged by the next
        `purge_dead_deletes`).

        Concurrency: a concurrent rewrite/removal of a file this commit
        drops raises CommitConflict inside the CAS and the overwrite
        re-plans from fresh metadata (up to `retries`); by default a
        concurrent APPEND into a replaced partition between plan and CAS is
        kept, not clobbered — the same default window Iceberg's
        ReplacePartitions has — while `validate=True` is Iceberg's
        validateNoConflictingData: such a file fails the CAS and the
        overwrite re-plans, so the retry's removal set covers it and the
        replaced partitions hold EXACTLY the replacement rows. The changelog feed emits the
        dropped files' parent-snapshot rows as full before-image deletes;
        the append-only streaming source refuses the commit like any delete
        snapshot (`skip_delete_snapshots` skips it).

        Reference parity: the ReplacePartitions/INSERT OVERWRITE surface
        OLake's Iceberg destination gets from Iceberg itself (the engine
        commits through Iceberg's transaction API,
        destination/iceberg/iceberg_utils.go); re-expressed over icelite's
        CAS commit."""
        self.refresh()
        skip = self._txn_applied(txn)
        if skip is not None:
            return {**skip, "operation": "overwrite"}
        last: Exception | None = None
        for _ in range(retries):
            # layout check BEFORE the staging write job: partition-dict
            # equality is only sound within ONE layout — a file written
            # under a pre-evolution spec carries that spec's keys and would
            # silently evade replacement. spec.names is the metadata-only
            # source of the current layout's key set.
            spec_keys = set(self.spec.names)
            live = [e for e in self.entries() if e.content == DATA]
            stale = [e for e in live if set(e.partition) != spec_keys]
            if stale:
                raise ValueError(
                    f"overwrite_partitions needs a single-layout table: "
                    f"{len(stale)} live data file(s) were written under a "
                    f"different partition spec (e.g. "
                    f"{sorted(set(stale[0].partition))} vs current "
                    f"{sorted(spec_keys)}) and partition-value matching "
                    "cannot see their rows. Run compaction to migrate old "
                    "layouts to the current spec first."
                )
            seq = self.meta["last_sequence_number"] + 1
            entries = self._stage_write(
                df, seq, max_records_per_file, sort_within_by
            )
            if not entries:
                return {
                    "operation": "overwrite", "data_files": 0,
                    "removed_files": 0, "rows_written": 0,
                    "partitions_replaced": 0, "snapshot_id": None,
                }
            touched = {
                json.dumps(e.partition, sort_keys=True) for e in entries
            }
            removed = {
                e.file_path
                for e in live
                if json.dumps(e.partition, sort_keys=True) in touched
            }
            try:
                snap = self._commit_snapshot(
                    "overwrite", entries,
                    removed_paths=removed,
                    extra_summary={
                        "replace-partitions": "true",
                        "replaced-partitions": str(len(touched)),
                    },
                    seq_used=seq, txn=txn, restamp_seq=True,
                    conflict_if_new_data_in=touched if validate else None,
                )
                if snap.get("skipped"):
                    return {**snap, "operation": "overwrite"}
                return {
                    "operation": "overwrite",
                    "data_files": len(entries),
                    "removed_files": len(removed),
                    "rows_written": sum(e.record_count for e in entries),
                    "partitions_replaced": len(touched),
                    "snapshot_id": snap["snapshot_id"],
                }
            except CommitConflict as ce:
                self.io.remove_many(
                    [self._abs(e.file_path) for e in entries]
                )
                last = ce
                self.refresh()
        raise last  # type: ignore[misc]

    def add_files(
        self,
        source: str | list[str],
        check_duplicate_files: bool = True,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Metadata-only import of existing parquet files — Iceberg's
        `add_files` procedure (spark AddFilesProcedure): register the files
        in a new append snapshot WITHOUT copying, moving, or rewriting a
        single data byte. `source` is a directory (listed by `_list_files`,
        as orphan reaping lists: a driver walk for small trees, a Spark
        listing job above DISTRIBUTED_LIST_THRESHOLD files, so a 10^5-file
        import never serializes on the driver) or an explicit file list.

        Files outside the table root are manifested by ABSOLUTE path and
        the engine never physically deletes them: rewrites only drop the
        metadata reference, and orphan reaping lists only under the table
        root — the safe resolution of the GC hazard Iceberg documents for
        imported files. A later compaction migrates their rows into owned,
        layout-correct files, after which the originals are simply no
        longer referenced.

        Unlike Hive-layout Iceberg imports, files must be SELF-CONTAINED
        (every table column present — icelite scans recompute partition
        values from row values, they never back-fill a column from the
        path). Checked on one footer here; the schema-enforced reader
        guards every file at scan time (upcasting int32→int64 /
        float32→float64 per the evolve_schema lattice, failing on real
        drift). Hive-style `k=v` path segments matching a spec field name
        (or an identity transform's source column) become manifest
        partition values — powering min/max + partition pruning and
        inspect_partitions, with rows staying the source of truth.

        Per-file min/max/null stats come from parquet footers, the same
        metadata-only harvest `append` uses (distributed above 512 files):
        the whole import is one listing + one stats harvest + one commit.
        """
        self.refresh()
        skip = self._txn_applied(txn)
        if skip is not None:
            return {**skip, "operation": "append"}
        src_root: str | None = None
        if isinstance(source, str):
            src_root = os.path.abspath(source)
            paths = sorted(
                p
                for p, _ in self._list_files([src_root])
                if p.endswith(".parquet")
                and not os.path.basename(p).startswith((".", "_"))
            )
        else:
            paths = sorted(os.path.abspath(p) for p in source)
        if not paths:
            raise ValueError("add_files: no parquet files to import")
        root_abs = os.path.abspath(self.root)

        def _key(p: str) -> str:
            # owned files keep the root-relative manifest convention;
            # external ones are referenced absolutely
            ap = os.path.abspath(p)
            return (
                os.path.relpath(ap, root_abs)
                if ap.startswith(root_abs + os.sep)
                else ap
            )

        keyed = [(_key(p), os.path.abspath(p)) for p in paths]
        if check_duplicate_files:
            refd = {e.file_path for e in self.entries()}
            dups = [k for k, _ in keyed if k in refd]
            if dups:
                raise ValueError(
                    f"add_files: {len(dups)} file(s) already referenced by "
                    f"the current snapshot (first: {dups[0]}) — re-importing "
                    "duplicates rows; pass check_duplicate_files=False only "
                    "if that is intended"
                )
        import pyarrow.parquet as pq

        have = set(pq.ParquetFile(keyed[0][1]).schema_arrow.names)
        need = {f.name for f in self.schema.fields}
        if not need <= have:
            raise ValueError(
                "add_files: imported files missing table columns "
                f"{sorted(need - have)}"
            )
        spec_names = set(self.spec.names)
        ident_by_source = {
            f.source: f.name
            for f in self.spec.fields
            if f.transform == "identity"
        }
        seq = self.meta["last_sequence_number"] + 1
        stats = collect_file_stats(self.spark, [a for _, a in keyed])
        entries: list[FileEntry] = []
        for k, a in keyed:
            st = stats[a]
            if st["record_count"] == 0:
                continue  # empty external file: skip, never delete
            partition: dict[str, str] = {}
            if src_root is not None:
                rel_dir = os.path.relpath(os.path.dirname(a), src_root)
                for pk, pv in _parse_partition(rel_dir).items():
                    if pk in spec_names:
                        partition[pk] = pv
                    elif pk in ident_by_source:
                        partition[ident_by_source[pk]] = pv
            entries.append(
                FileEntry(
                    DATA, k, partition, seq,
                    st["record_count"], st["file_size_bytes"],
                    st["mins"], st["maxs"], st["null_counts"],
                )
            )
        if not entries:
            raise ValueError("add_files: every candidate file was empty")
        return self._commit_snapshot(
            "append", entries, seq_used=seq, txn=txn,
            extra_summary={"added-files-by-reference": len(entries)},
        )

    def row_delta(
        self, data_df: DataFrame | None, delete_keys_df: DataFrame | None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """One atomic commit of data files + equality-delete files (the MERGE
        primitive: delete-before-insert, RowDelta semantics)."""
        self.refresh()
        skip = self._txn_applied(txn)
        if skip is not None:
            return {**skip, "operation": "rowdelta"}
        seq = self.meta["last_sequence_number"] + 1
        entries: list[FileEntry] = []
        if delete_keys_df is not None:
            entries += self._write_delete_files(delete_keys_df, seq)
        if data_df is not None:
            entries += self._stage_write(data_df, seq)
        return self._commit_snapshot(
            "rowdelta", entries, seq_used=seq, txn=txn, restamp_seq=True
        )

    def truncate(self, retries: int = 5) -> dict:
        """TRUNCATE TABLE (Iceberg's truncate / DELETE without a filter):
        one metadata-only commit removing EVERY live file — data and delete
        files alike — from the manifest. No bytes are rewritten or reaped
        here; the removed files stay reachable through older snapshots until
        `expire_snapshots` + orphan reaping collect them, so the truncate is
        fully time-travelable and rollback-able like any other commit."""
        last: Exception | None = None
        for _ in range(retries):
            self.refresh()
            removed = {e.file_path for e in self.entries()}
            if not removed:
                return {"operation": "delete", "removed_files": 0}
            try:
                snap = self._commit_snapshot(
                    "delete", [], removed_paths=removed,
                    extra_summary={"truncate": "true"},
                )
                return {
                    "operation": "delete",
                    "removed_files": len(removed),
                    "snapshot_id": snap["snapshot_id"],
                }
            except CommitConflict as ce:  # a concurrent rewrite moved files
                last = ce
        raise last  # type: ignore[misc]

    def count_rows(self) -> int:
        """Metadata-only row count when it is EXACT — the manifest-stats
        answer Iceberg gives `SELECT COUNT(*)`: with no live delete files,
        the count is the sum of the data entries' record counts (zero Spark
        jobs, O(manifest) driver work). Any live positional/equality delete
        makes manifest arithmetic unsound (marks may overlap rows or match
        nothing), so the method falls back to an actual scan count, exactly
        like Iceberg falls off the stats fast-path when deletes exist."""
        self.refresh()
        entries = self.entries()
        if any(e.content != DATA for e in entries):
            return self.scan(columns=[self.schema.fields[0].name]).count()
        return sum(e.record_count for e in entries)

    def delete_where(self, condition, retries: int = 5) -> dict:
        """Merge-on-read DELETE: mark rows matching `condition` deleted by
        writing positional-delete files (content=1) — no data file is
        rewritten. The Spark-first rendition of Iceberg v2 positional
        deletes: row identity comes from the parquet reader's hidden
        `_metadata.file_path` / `_metadata.row_index` columns, so marking
        costs one predicate scan + one small (file_path, pos) write instead
        of rewriting every touched data file. Scans apply the marks as a
        broadcast anti-join; the next compaction of a touched file folds the
        deletes in physically and `purge_dead_deletes` drops the dead files.

        `condition` is a SQL string or Column over the table schema. The
        commit validates that every referenced data file is still live
        (validateDataFilesExist) — on conflict with a concurrent rewrite it
        retries from fresh state, re-scanning so marks land on the new files.
        """
        last: Exception | None = None
        for _ in range(retries):
            self.refresh()
            pinned = self.current_snapshot_id
            if not any(e.content == DATA for e in self.entries(pinned)):
                return {"rows_deleted": 0, "delete_files": 0}
            hits = (
                self.scan(snapshot_id=pinned, with_pos=True)
                .filter(condition)
                .select(
                    F.col("_file_path").alias("file_path"),
                    F.col("_pos").alias("pos"),
                )
            )
            seq, _ = self._next_ids(self.meta)
            added = self._write_pos_delete_files(hits, seq)
            n = sum(e.record_count for e in added)
            if n == 0:
                return {"rows_deleted": 0, "delete_files": 0}
            refd = self._refd_paths(added)
            try:
                snap = self._commit_snapshot(
                    "delete", added,
                    extra_summary={"deleted-rows": n},
                    seq_used=seq,
                    require_live_paths=refd,
                )
                return {
                    "rows_deleted": n,
                    "delete_files": len(added),
                    "snapshot_id": snap["snapshot_id"],
                }
            except CommitConflict as ce:
                # the marks reference rewritten (dead) paths: discard and
                # re-scan against the table as it is now
                self.io.remove_many([self._abs(e.file_path) for e in added])
                last = ce
        raise last  # type: ignore[misc]

    def _refd_paths(self, delete_entries: list[FileEntry]) -> set[str]:
        """Distinct data-file paths referenced by just-written positional
        delete files, computed distributedly over those files: collect size
        is bounded by the data FILE count, never the deleted ROW count."""
        return {
            r[0]
            for r in self.spark.read.parquet(
                *[self._abs(e.file_path) for e in delete_entries]
            )
            .select("file_path")
            .distinct()
            .collect()
        }

    def update_where(
        self,
        condition,
        assignments: dict[str, Any],
        retries: int = 5,
    ) -> dict:
        """Merge-on-read UPDATE: one atomic commit of positional-delete
        files marking the matching rows PLUS data files holding their
        transformed copies — the Iceberg v2 UPDATE shape (RowDelta:
        pos-deletes + appends, same sequence number), no untouched data file
        rewritten. `assignments` maps column name → SQL string / Column
        evaluated over the matching rows; reassigning partition-source
        columns is allowed (the new copies route to their new partitions).

        Both sides derive from the same pinned snapshot, so the delete marks
        and the rewritten copies describe the same row set. The commit runs
        the validateDataFilesExist guard; on conflict with a concurrent
        rewrite every staged file is discarded and the whole op retries
        against fresh state."""
        unknown = set(assignments) - {f.name for f in self.schema.fields}
        if unknown:
            raise ValueError(
                f"assignments reference non-schema columns: {sorted(unknown)}"
            )
        last: Exception | None = None
        for _ in range(retries):
            self.refresh()
            pinned = self.current_snapshot_id
            if not any(e.content == DATA for e in self.entries(pinned)):
                return {"rows_updated": 0}
            matched = self.scan(snapshot_id=pinned, with_pos=True).filter(
                condition
            )
            seq, _ = self._next_ids(self.meta)
            dels = self._write_pos_delete_files(
                matched.select(
                    F.col("_file_path").alias("file_path"),
                    F.col("_pos").alias("pos"),
                ),
                seq,
            )
            n = sum(e.record_count for e in dels)
            if n == 0:
                return {"rows_updated": 0}
            # ONE select evaluating every RHS against the PRE-update row
            # (SQL UPDATE semantics): {"a": "b", "b": "a"} swaps — chained
            # withColumn would make later assignments see updated values
            proj = []
            for f in self.schema.fields:
                if f.name in assignments:
                    e = assignments[f.name]
                    col = F.expr(e) if isinstance(e, str) else e
                    proj.append(col.cast(f.dataType).alias(f.name))
                else:
                    proj.append(F.col(f.name))
            data = self._stage_write(matched.select(*proj), seq)
            refd = self._refd_paths(dels)
            try:
                snap = self._commit_snapshot(
                    "overwrite", dels + data,
                    extra_summary={"updated-rows": n},
                    seq_used=seq,
                    require_live_paths=refd,
                )
                return {
                    "rows_updated": n,
                    "delete_files": len(dels),
                    "data_files": len(data),
                    "snapshot_id": snap["snapshot_id"],
                }
            except CommitConflict as ce:
                self.io.remove_many(
                    [self._abs(e.file_path) for e in dels + data]
                )
                last = ce
        raise last  # type: ignore[misc]

    def stage_append(
        self, df: DataFrame, max_records_per_file: int | None = None,
        sort_within_by: list[str] | None = None,
    ) -> dict:
        """Write-audit-publish step 1: commit the append as a snapshot that
        is NOT made current — readers keep seeing the published state while
        auditors scan the staged snapshot by id
        (`scan(snapshot_id=staged["snapshot_id"])`). Step 2 is
        `publish_snapshot` (atomic flip) or `drop_snapshot` (reject; files
        become orphans). Publish or drop promptly: a staged snapshot is
        retained like any other and ages out of `expire_snapshots`' keep-last
        window."""
        self.refresh()
        seq = self.meta["last_sequence_number"] + 1
        entries = self._stage_write(df, seq, max_records_per_file, sort_within_by)
        return self._commit_snapshot(
            "stage-append", entries, seq_used=seq, make_current=False,
            extra_summary={"staged": True},
        )

    def publish_snapshot(self, snapshot_id: int) -> dict:
        """WAP step 2: atomically make a staged snapshot current. Conflicts
        (rather than silently dropping concurrent work) if the table moved
        past the staged snapshot's parent since staging — the staged manifest
        list was derived from that parent, so publishing over a newer current
        would erase the interleaved commits. Linear histories publish clean;
        for the interleaved case use `cherry_pick`, which re-applies the
        staged snapshot's ADDED files on top of whatever current is now."""

        def build(meta: dict) -> dict:
            snap = next(
                (s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id),
                None,
            )
            if snap is None:
                raise KeyError(f"snapshot {snapshot_id} not found (expired?)")
            if meta["current_snapshot_id"] != snap["parent_id"]:
                raise CommitConflict(
                    f"cannot publish {snapshot_id}: table moved from its "
                    f"parent {snap['parent_id']} to "
                    f"{meta['current_snapshot_id']} since staging"
                )
            new = dict(meta)
            new["current_snapshot_id"] = snapshot_id
            return new

        self._commit(build)
        # _commit returns the LAST snapshot in the list, which need not be
        # the one just published (another stage may be newer) — return the
        # published snapshot itself
        return self.snapshot(snapshot_id)

    def cherry_pick(self, snapshot_id: int) -> dict:
        """Iceberg's cherrypickSnapshot: publish a staged (or branch) APPEND
        even though main moved past its parent — commit a NEW snapshot on
        current that re-references exactly the files the staged snapshot
        added. Metadata-only: no data is rewritten or copied.

        Append-type snapshots only (their change set IS their added data
        files); a RowDelta/delete cherry-pick would need its deletes
        re-validated against a base they weren't derived from, which is the
        conflict `publish_snapshot` exists to refuse. Entries are re-stamped
        with a fresh sequence number, so equality deletes committed between
        staging and picking do NOT kill the picked rows (they were not in
        the table when those deletes ran — Iceberg's newly-added-data rule).
        The original staged snapshot stays hidden from time travel; the
        cherrypick commit is the published one."""
        snap = self.snapshot(snapshot_id)  # raises if expired
        if snap["operation"] not in ("append", "stage-append"):
            raise ValueError(
                f"cherry-pick supports append-type snapshots only, "
                f"not {snap['operation']!r}"
            )
        added = self._added_entries(snap)
        if any(e.content != DATA for e in added):
            raise ValueError("cherry-pick source carries delete files")
        self.refresh()
        if snapshot_id in self._ancestor_ids(self.meta):
            raise ValueError(
                f"snapshot {snapshot_id} is already in the current lineage"
            )
        seq = self.meta["last_sequence_number"] + 1
        from dataclasses import replace as _dc_replace

        restamped = [_dc_replace(e, seq=seq) for e in added]
        return self._commit_snapshot(
            "cherrypick", restamped, seq_used=seq,
            extra_summary={"cherry-picked-from": snapshot_id},
        )

    def drop_snapshot(self, snapshot_id: int) -> None:
        """Reject a staged (non-current, untagged, non-ancestor) snapshot:
        remove it from metadata; its files become orphans for the reaper.
        Dropping anything on the current lineage is refused — it would break
        incremental/as-of history irreversibly."""

        def build(meta: dict) -> dict:
            if snapshot_id == meta["current_snapshot_id"]:
                raise ValueError("cannot drop the current snapshot")
            if snapshot_id in meta.get("refs", {}).values():
                raise ValueError("cannot drop a tagged snapshot")
            if snapshot_id in meta.get("branch_refs", {}).values():
                raise ValueError("cannot drop a branch head (drop_branch first)")
            if snapshot_id in self._branch_lineage_ids(meta):
                raise ValueError(
                    "cannot drop a snapshot on a branch lineage "
                    "(drop_branch first)"
                )
            if snapshot_id in self._ancestor_ids(meta):
                raise ValueError(
                    "cannot drop an ancestor of the current snapshot "
                    "(published lineage); use expire_snapshots for retention"
                )
            if not any(
                s["snapshot_id"] == snapshot_id for s in meta["snapshots"]
            ):
                raise KeyError(f"snapshot {snapshot_id} not found")
            new = dict(meta)
            new["snapshots"] = [
                s for s in meta["snapshots"] if s["snapshot_id"] != snapshot_id
            ]
            return new

        self._commit(build)

    def rewrite_files(
        self, removed_paths: Iterable[str], added: list[FileEntry],
        op: str = "replace", extra_summary: dict | None = None,
        seq_used: int | None = None,
        known_delete_paths: set[str] | None = None,
    ) -> dict:
        """Atomically swap file sets (compaction / clustering commit)."""
        return self._commit_snapshot(
            op, added, set(removed_paths), extra_summary, seq_used=seq_used,
            known_delete_paths=known_delete_paths,
        )

    # -------------------------------------------------- maintenance helpers

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Alias of `inspect_files` kept for the maintenance planners —
        manifest entries as a DataFrame, never touching a data file."""
        return self.inspect_files(snapshot_id)

    def total_records(self, snapshot_id: int | None = None) -> int:
        ents = self.entries(snapshot_id)
        return sum(e.record_count for e in ents if e.content == DATA)

    def add_columns(self, new_fields: list) -> None:
        """Schema evolution, union-by-name (the reference's
        updateSchema().unionByNameWith, IcebergTableOperator.java:153-166):
        append nullable fields; existing data files simply surface nulls for
        them (scans pass the explicit table schema, so parquet fills missing
        columns). Additive only; type conflicts go through evolve_schema."""

        def build(meta: dict) -> dict:
            schema = StructType.fromJson(json.loads(meta["schema_json"]))
            existing = {f.name for f in schema.fields}
            for f in new_fields:
                if f.name in existing:
                    continue
                if not f.nullable:
                    raise ValueError(f"new column {f.name} must be nullable")
                schema = schema.add(f)
            new = dict(meta)
            new["schema_json"] = schema.json()
            return new

        self._commit(build)

    def evolve_schema(self, incoming: StructType) -> StructType:
        """Union-by-name evolution WITH type promotion: a field arriving with
        a different type takes the lattice LCA (the reference's weighted
        typecast tree, utils/typeutils/fields.go:18-47,248-284) — restricted
        to promotions committed parquet files can serve without a rewrite,
        i.e. Iceberg's legal widenings int→long / float→double (Spark's
        reader upcasts those on old files natively). A conflict whose LCA
        needs more than that (e.g. long vs string → string) raises: it must
        be resolved at ingest with typeutils.merge_schemas + coerce, exactly
        where the reference applies the full lattice. Returns the evolved
        schema."""
        from olake_spark.functions.typeutils import (is_legal_table_widening,
                                                     promote_spark)

        def build(meta: dict) -> dict:
            schema = StructType.fromJson(json.loads(meta["schema_json"]))
            by_name = {f.name: f for f in schema.fields}
            out = list(schema.fields)
            for f in incoming.fields:
                cur = by_name.get(f.name)
                if cur is None:
                    out.append(StructField(f.name, f.dataType, True))
                    continue
                if cur.dataType == f.dataType:
                    continue
                target = promote_spark(cur.dataType, f.dataType)
                if target == cur.dataType:
                    continue  # incoming is narrower; files stay as-is
                if not is_legal_table_widening(cur.dataType, target):
                    raise ValueError(
                        f"column {f.name}: promotion "
                        f"{cur.dataType.simpleString()} → "
                        f"{target.simpleString()} is not a legal in-place "
                        f"widening; coerce the batch at ingest "
                        f"(typeutils.merge_schemas) instead"
                    )
                i = next(j for j, g in enumerate(out) if g.name == f.name)
                out[i] = StructField(f.name, target, True)
            new = dict(meta)
            new["schema_json"] = StructType(out).json()
            return new

        self._commit(build)
        return self.schema

    def update_spec(self, new_spec: PartitionSpec) -> PartitionSpec:
        """Partition spec evolution (Iceberg's updateSpec): future writes
        route to the new layout; files written under older specs stay live
        and scannable as-is — scans never depend on directory layout
        (partition values are recomputed from row values via the current
        spec's transform expressions), so no data moves at evolution time.
        Compaction and cluster rewrites write through the current spec, so
        old-layout files migrate incrementally as maintenance touches them.
        Metadata-only CAS commit; concurrent writers pick up the new spec on
        their next refresh."""
        src_cols = {f.name for f in self.schema.fields}
        for pf in new_spec.fields:
            if pf.source not in src_cols:
                raise ValueError(
                    f"partition source column {pf.source!r} not in schema"
                )
            pf.expr()  # validates the transform name eagerly

        def build(meta: dict) -> dict:
            new = dict(meta)
            new["partition_spec"] = new_spec.to_json()
            # audit trail of every spec the table ever wrote under
            hist = list(meta.get("partition_spec_history", []))
            hist.append(meta["partition_spec"])
            new["partition_spec_history"] = hist
            return new

        self._commit(build)
        return self.spec

    # ----------------------------------------------------------- named refs

    def set_statistics(self, stats: dict) -> dict:
        """Register a column-stats file for a snapshot (Iceberg's
        SetStatistics metadata update, the pointer half of the Puffin
        pattern): the stats body lives in its own JSON file under
        metadata/stats/, table metadata carries only {snapshot_id, path} —
        stats stay O(cols) in the file, metadata stays O(1). One entry per
        snapshot: re-analyzing replaces it (and removes the superseded
        file). Registering against an expired snapshot raises."""
        snap_id = stats["snapshot_id"]
        rel = os.path.join(
            "metadata", "stats", f"stats-{snap_id}-{uuid.uuid4().hex}.json"
        )
        self.io.makedirs(os.path.dirname(self._abs(rel)))
        self.io.write_text_atomic(
            self._abs(rel), json.dumps(stats, sort_keys=True)
        )
        superseded: list[str] = []

        def build(meta: dict) -> dict:
            if snap_id not in {s["snapshot_id"] for s in meta["snapshots"]}:
                raise KeyError(
                    f"set_statistics: snapshot {snap_id} not retained"
                )
            entries = list(meta.get("statistics", []))
            superseded.clear()
            superseded.extend(
                e["path"] for e in entries if e["snapshot_id"] == snap_id
            )
            entries = [e for e in entries if e["snapshot_id"] != snap_id]
            entries.append(
                {
                    "snapshot_id": snap_id,
                    "path": rel,
                    "created_ms": stats.get("created_ms"),
                }
            )
            new = dict(meta)
            new["statistics"] = entries
            return new

        try:
            self._commit(build)
        except Exception:
            self.io.remove(self._abs(rel))
            raise
        if superseded:
            try:
                self.io.remove_many([self._abs(p) for p in superseded])
            except OSError:
                pass  # best effort; unreferenced stats files are harmless
        return {**stats, "path": rel}

    def get_statistics(self, snapshot_id: int | None = None) -> dict | None:
        """The registered stats body for a snapshot. With no id: the
        current snapshot's entry if present, else the newest registered
        entry (its snapshot_id tells the consumer how stale it is)."""
        self.refresh()
        entries = self.meta.get("statistics", [])
        if not entries:
            return None
        want = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        hit = [e for e in entries if e["snapshot_id"] == want]
        if not hit:
            if snapshot_id is not None:
                return None
            hit = [max(entries, key=lambda e: e.get("created_ms") or 0)]
        return json.loads(self.io.read_text(self._abs(hit[0]["path"])))

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): name → snapshot_id."""
        return dict(self.meta.get("refs", {}))

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg's tag refs): tagged snapshots
        survive expire_snapshots until the tag is dropped — the audit /
        reproducibility anchor (`scan(tag=...)` reads it forever)."""

        target = {"id": None}

        def build(meta: dict) -> dict:
            sid = (
                snapshot_id
                if snapshot_id is not None
                else meta["current_snapshot_id"]
            )
            if sid is None or not any(
                s["snapshot_id"] == sid for s in meta["snapshots"]
            ):
                raise KeyError(f"snapshot {sid} not found (expired?)")
            new = dict(meta)
            new["refs"] = {**meta.get("refs", {}), name: sid}
            target["id"] = sid
            return new

        self._commit(build)
        return target["id"]

    def drop_tag(self, name: str) -> None:
        def build(meta: dict) -> dict:
            refs = dict(meta.get("refs", {}))
            if name not in refs:
                raise KeyError(f"no tag {name!r}")
            del refs[name]
            new = dict(meta)
            new["refs"] = refs
            return new

        self._commit(build)

    def scan_tag(self, name: str, **kwargs) -> DataFrame:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"no tag {name!r}")
        return self.scan(snapshot_id=refs[name], **kwargs)

    # ------------------------------------------------------------- branches

    def branches(self) -> dict[str, int]:
        """Mutable named refs (Iceberg branches): name → head snapshot id."""
        return dict(self.meta.get("branch_refs", {}))

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Fork a mutable ref at a snapshot (default: current). Commits made
        with `append_to_branch` advance the branch head only — readers of
        main never see them until `fast_forward`. The audit-then-promote
        workflow at lineage granularity (WAP generalized from one staged
        snapshot to a whole chain of them)."""
        target = {"id": None}

        def build(meta: dict) -> dict:
            sid = (
                snapshot_id
                if snapshot_id is not None
                else meta["current_snapshot_id"]
            )
            if sid is None or not any(
                s["snapshot_id"] == sid for s in meta["snapshots"]
            ):
                raise KeyError(f"snapshot {sid} not found (expired?)")
            if name in meta.get("branch_refs", {}):
                raise ValueError(f"branch {name!r} already exists")
            new = dict(meta)
            new["branch_refs"] = {**meta.get("branch_refs", {}), name: sid}
            target["id"] = sid
            return new

        self._commit(build)
        return target["id"]

    def drop_branch(self, name: str) -> None:
        """Abandon a branch: its unmerged snapshots stay in metadata until
        `drop_snapshot` / expiry; their files become orphans for the reaper."""

        def build(meta: dict) -> dict:
            refs = dict(meta.get("branch_refs", {}))
            if name not in refs:
                raise KeyError(f"no branch {name!r}")
            del refs[name]
            new = dict(meta)
            new["branch_refs"] = refs
            return new

        self._commit(build)

    def append_to_branch(
        self, name: str, df: DataFrame,
        max_records_per_file: int | None = None,
        sort_within_by: list[str] | None = None,
    ) -> dict:
        """Append committed onto the branch head; the branch ref advances,
        main's current snapshot does not."""
        self.refresh()
        seq = self.meta["last_sequence_number"] + 1
        entries = self._stage_write(df, seq, max_records_per_file, sort_within_by)
        return self._commit_snapshot("append", entries, seq_used=seq, branch=name)

    def scan_branch(self, name: str, **kwargs) -> DataFrame:
        heads = self.branches()
        if name not in heads:
            raise KeyError(f"no branch {name!r}")
        return self.scan(snapshot_id=heads[name], **kwargs)

    def fast_forward(self, name: str) -> dict:
        """Make main current = the branch head — allowed only when current
        is an ancestor of (or equal to) the head, i.e. the branch strictly
        extends main (Iceberg's fastForwardBranch contract). Anything else
        would silently erase interleaved main commits; it raises
        CommitConflict instead and the caller rebases by re-branching."""
        result = {"snapshot_id": None}

        def build(meta: dict) -> dict:
            head = meta.get("branch_refs", {}).get(name)
            if head is None:
                raise KeyError(f"no branch {name!r}")
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            cur = meta["current_snapshot_id"]
            node = head
            while node is not None and node != cur:
                snap = by_id.get(node)
                if snap is None:
                    # expiry retains the full head→…→current walk whenever a
                    # fast-forward is legal (_branch_lineage_ids stops only at
                    # current-lineage ancestors), so a gap proves divergence
                    raise CommitConflict(
                        f"cannot fast-forward to branch {name!r}: retained "
                        f"history shows current {cur} is not an ancestor of "
                        f"its head {head} (chain expired at {node})"
                    )
                node = snap["parent_id"]
            if node != cur:
                raise CommitConflict(
                    f"cannot fast-forward to branch {name!r}: current "
                    f"snapshot {cur} is not an ancestor of its head {head}"
                )
            new = dict(meta)
            new["current_snapshot_id"] = head
            result["snapshot_id"] = head
            return new

        self._commit(build)
        return dict(result)

    def rollback_to(self, snapshot_id: int) -> dict:
        """Point current back to an earlier (still-retained) snapshot —
        metadata-only undo of any maintenance commit; the abandoned files
        become orphans for the reaper."""
        target_snap = self.snapshot(snapshot_id)  # raises if expired

        def build(meta: dict) -> dict:
            snap_id = meta["last_snapshot_id"] + 1
            new = dict(meta)
            new["last_snapshot_id"] = snap_id
            new["current_snapshot_id"] = snap_id
            new["snapshots"] = meta["snapshots"] + [
                self._snapshot_dict(
                    meta, snap_id, target_snap["sequence_number"], "rollback",
                    list(target_snap["manifests"]),
                    {"rolled-back-to": snapshot_id},
                )
            ]
            return new

        return self._commit(build)

    def expire_snapshots(
        self,
        keep_last: int | None = None,
        older_than_ms: int | None = None,
    ) -> dict:
        """Drop old snapshots from metadata (current and TAGGED snapshots
        always kept). Data/delete/manifest files become orphans, reaped by
        `remove_orphan_files`; `remove_superseded_metadata` removes the
        older metadata versions.

        Arguments left as None fall back to the table's retention
        properties — Iceberg's `history.expire.min-snapshots-to-keep` and
        `history.expire.max-snapshot-age-ms` (age measured from now), so a
        nightly `maintain --ops expire` can run argument-less and still
        honor a per-table policy; with no properties either, keep_last=1.
        """
        if keep_last is None:
            keep_last = int(
                self.meta["properties"].get(
                    "history.expire.min-snapshots-to-keep", 1
                )
            )
        # keep_last=0 would make snaps[-0:] select EVERY snapshot (a silent
        # no-op retention); Iceberg likewise enforces a minimum of 1
        keep_last = max(1, keep_last)
        if older_than_ms is None:
            age = self.meta["properties"].get(
                "history.expire.max-snapshot-age-ms"
            )
            if age is not None:
                older_than_ms = int(time.time() * 1000) - int(age)
        expired = {"n": 0}

        def build(meta: dict) -> dict:
            snaps = meta["snapshots"]
            cur = meta["current_snapshot_id"]
            keep_ids = (
                {s["snapshot_id"] for s in snaps[-keep_last:]}
                | {cur}
                | set(meta.get("refs", {}).values())
            )
            # whole branch lineages survive, not just heads: fast_forward
            # must still be able to walk head → … → current afterwards
            keep_ids |= self._branch_lineage_ids(
                meta, stop_ids=self._ancestor_ids(meta) | keep_ids
            ) | set(meta.get("branch_refs", {}).values())
            kept = [
                s for s in snaps
                if s["snapshot_id"] in keep_ids
                or (older_than_ms is not None and s["timestamp_ms"] >= older_than_ms)
            ]
            expired["n"] = len(snaps) - len(kept)
            new = dict(meta)
            new["snapshots"] = kept
            # stats files bind to their snapshot — prune pointers for
            # dropped snapshots (the files are removed below, post-commit)
            kept_ids = {s["snapshot_id"] for s in kept}
            stats = meta.get("statistics", [])
            if stats:
                new["statistics"] = [
                    e for e in stats if e["snapshot_id"] in kept_ids
                ]
            return new

        self._commit(build)
        # physically drop stats files no longer referenced by metadata —
        # idempotent (recomputed from fresh meta), best effort, O(stats
        # entries) which is O(snapshots), never O(data files)
        refd = {e["path"] for e in self.meta.get("statistics", [])}
        stats_dir = os.path.join(self.root, "metadata", "stats")
        victims = [
            p
            for p, _mtime in self.io.walk_files(stats_dir)
            if os.path.relpath(p, self.root) not in refd
        ]
        if victims:
            try:
                self.io.remove_many(victims)
            except OSError:
                pass
        return {"expired": expired["n"]}

    # above this many files, a listing switches from a driver-side walk to
    # a Spark job (one task per first-level directory)
    DISTRIBUTED_LIST_THRESHOLD = 4096

    def _list_files(self, roots: list[str]) -> list[tuple[str, float]]:
        """`(absolute path, mtime)` of every file under `roots`: a
        driver-side walk while it stays within DISTRIBUTED_LIST_THRESHOLD
        files, else a Spark listing job (`_list_files_spark`). Small trees
        skip the job's scheduling cost; large ones never serialize on the
        driver."""
        listing: list[tuple[str, float]] = []
        for base in roots:
            for item in self.io.walk_files(base):
                listing.append(item)
                if len(listing) > self.DISTRIBUTED_LIST_THRESHOLD:
                    return _list_files_spark(self.spark, self.io, roots)
        return listing

    def remove_orphan_files(
        self,
        grace_seconds: float = 3 * 24 * 3600,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete files under data/ deletes/ metadata/manifests/ that no
        retained snapshot references and that are older than the grace period
        (never touch files newer than grace — they may belong to an in-flight
        commit).

        The listing is `_list_files`: a driver-side walk, or above
        DISTRIBUTED_LIST_THRESHOLD files a Spark listing job — one task per
        first-level (write-job) directory, each executor listing its own
        prefix with mtimes, the object-store pattern. Either way the grace
        check reads the mtimes the listing returned and the deletion is ONE
        batched remove_many call, so driver FileIO work stays O(1) calls no
        matter how many orphans exist. Write-job directories the deletion
        empties are removed with it; the listing roots stay."""
        self.refresh()
        referenced: set[str] = set()
        for s in self.meta["snapshots"]:
            for m in s["manifests"]:
                referenced.add(m)
                for e in _read_manifest(self._abs(m)):
                    referenced.add(e.file_path)
        cutoff = time.time() - grace_seconds
        roots = [
            os.path.join(self.root, sub)
            for sub in ("data", "deletes", os.path.join("metadata", "manifests"))
        ]
        listing = self._list_files(roots)

        orphans: list[str] = []
        victims: list[str] = []
        for p, mtime in listing:
            rel = os.path.relpath(p, self.root)
            if rel in referenced:
                continue
            if mtime > cutoff:
                continue
            orphans.append(rel)
            victims.append(p)
        if victims and not dry_run:
            self.io.remove_many(victims)
            _remove_emptied_dirs(victims, roots)
        return sorted(orphans)

    def remove_superseded_metadata(
        self, grace_seconds: float = 3 * 24 * 3600, dry_run: bool = False
    ) -> list[str]:
        """Delete every `vN.metadata.json` but v00001 whose next existing
        version was written before the grace cutoff; returns their
        root-relative paths.

        Each version re-serializes every retained snapshot, so kept
        versions grow the metadata bytes quadratically with commits, and
        every refresh lists them. The newest version and version-hint.text
        always stay, and so does v00001: `Table.create` detects an existing
        table by failing to create it. A version goes only once its
        successor is older than the grace period. A writer that refreshed
        before the reap can still create a reaped version's number, and
        that commit is then silently lost behind the newer versions, so the
        grace period must outlast any writer's commit; at grace 0 no writer
        may run beside the reap. One listing of metadata/'s direct
        children (it carries the mtimes), one batched delete."""
        meta_dir = os.path.join(self.root, "metadata")
        versions = sorted(
            (v, p, mtime)
            for p, mtime in self.io.list_files(meta_dir)
            if (v := metadata_version(os.path.basename(p))) is not None
        )
        cutoff = time.time() - grace_seconds
        victims = [
            p
            for (v, p, _), (_, _, successor_mtime) in zip(versions, versions[1:])
            if v > 1 and successor_mtime <= cutoff
        ]
        if victims and not dry_run:
            self.io.remove_many(victims)
        return [os.path.relpath(p, self.root) for p in victims]


# ------------------------------------------------------------------ helpers


def _remove_emptied_dirs(removed: list[str], roots: list[str]) -> None:
    """Remove the write-job directories that deleting `removed` left empty,
    walking up from each file's directory to the first non-empty one. The
    walk stops below the listing root that holds the file, so data/,
    deletes/ and metadata/manifests/ themselves always stay: writers put
    files into them without creating them first. An object store has no
    directories; there the rmdir finds nothing and the walk stops."""
    for d in sorted({os.path.dirname(p) for p in removed}, reverse=True):
        root = next((r for r in roots if d.startswith(r + os.sep)), None)
        while root is not None and d.startswith(root + os.sep):
            try:
                os.rmdir(d)
            except OSError:  # not empty, or already gone
                break
            d = os.path.dirname(d)


def _list_files_spark(
    spark: SparkSession, io: FileIO, roots: list[str]
) -> list[tuple[str, float]]:
    """Distributed prefix listing for `Table._list_files`: the driver
    enumerates only FIRST-level entries (write-job directories, and any file
    placed directly under a root) through one list_dir per root; each
    executor task then lists one entry — a subtree walk, or a single file —
    and returns (path, mtime). In local mode tasks share the filesystem; on a
    deployment each executor lists its own object-store prefix — driver work
    is O(first-level entries), never a request per file."""
    units = [
        os.path.join(r, name)
        for r in roots
        if os.path.isdir(r)
        for name in io.list_dir(r)
    ]
    if not units:
        return []

    def walk(top: str) -> list[tuple[str, float]]:
        import os as _os

        paths = (
            [_os.path.join(d, f) for d, _dirs, files in _os.walk(top) for f in files]
            if _os.path.isdir(top)
            else [top]
        )
        res = []
        for p in paths:
            try:
                res.append((p, _os.path.getmtime(p)))
            except OSError:
                pass  # removed between the listing and the stat
        return res

    sc = spark.sparkContext
    n = max(1, min(len(units), sc.defaultParallelism * 2))
    return sc.parallelize(units, n).flatMap(walk).collect()


def uri_path(uri: Column) -> Column:
    """Local path of the file URI Spark reports for a row
    (`input_file_name()`, `_metadata.file_path`): the scheme is stripped and
    percent-escapes decoded, so a root holding a space, `%` or non-ASCII
    text compares equal to the paths the manifests store. `+` is escaped
    first: url_decode reads it as a space, but in a URI path it is literal."""
    path = F.regexp_replace(uri, "^file:/+", "/")
    return F.url_decode(F.regexp_replace(path, "\\+", "%2B"))


def _parse_partition(rel_dir: str) -> dict[str, str]:
    if rel_dir in (".", ""):
        return {}
    from urllib.parse import unquote

    out = {}
    for comp in rel_dir.split(os.sep):
        if "=" in comp:
            k, v = comp.split("=", 1)
            out[k] = unquote(v)
    return out


_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1

# the closed integer interval each comparison with an integer admits
_INT_BOUNDS = {
    "==": lambda v: (v, v),
    "<": lambda v: (_INT64_MIN, v - 1),
    "<=": lambda v: (_INT64_MIN, v),
    ">": lambda v: (v + 1, _INT64_MAX),
    ">=": lambda v: (v, _INT64_MAX),
}

_OPS = {
    "==": lambda lo, hi, v: not (v < lo or hi < v),
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


def _may_match(e: FileEntry, predicates: list[tuple[str, str, Any]]) -> bool:
    """File pruning: keep the file unless the predicates PROVE no row can
    match. Missing stats → keep (safe).

    Each predicate is tested against the file's min/max alone. Then, per
    column with interval summaries (`e.ranges`), the integer predicates on
    that column are intersected into ONE closed interval first, and the file
    is dropped only if no summary interval meets it: tested one predicate at
    a time, `>= lo` and `< hi` could each hit a different interval."""
    for col, op, val in predicates:
        lo, hi = e.mins.get(col), e.maxs.get(col)
        if lo is None or hi is None or op not in _OPS:
            continue
        try:
            if not _OPS[op](lo, hi, val):
                return False
        except TypeError:
            continue
    if not e.ranges:
        return True
    bounds: dict[str, tuple[int, int]] = {}
    for col, op, val in predicates:
        if (col not in e.ranges or op not in _INT_BOUNDS
                or isinstance(val, bool) or not isinstance(val, numbers.Integral)):
            continue
        lo, hi = _INT_BOUNDS[op](int(val))
        a, b = bounds.get(col, (_INT64_MIN, _INT64_MAX))
        bounds[col] = (max(a, lo), min(b, hi))
    for col, (lo, hi) in bounds.items():
        if lo > hi or not any(
            a <= hi and lo <= b for a, b in unpack_ranges(e.ranges[col])
        ):
            return False
    return True


def _pred_expr(predicates: list[tuple[str, str, Any]]):
    expr = F.lit(True)
    for col, op, val in predicates:
        c = F.col(col)
        expr = expr & {
            "==": c == val, "<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val,
        }[op]
    return expr
