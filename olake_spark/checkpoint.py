"""Maintenance log: per-partition lineage + metrics (F4).

Every maintenance job plans chunks, logs `planned`, executes, and logs
`done` (with rows/bytes/snapshot lineage); `metrics_df` and `inspect` read
it. No engine path reads it back: the reference's resume contract
(types/state.go:187-230 — a chunk counts as done only once its write has
landed, and a restart skips done chunks, drivers/abstract/backfill.go:44-58)
rides in the table's own commits, so a kill between a commit and its log
append cannot break resume (backfill: an idempotent-writer txn per chunk
group; compaction and clustering: their snapshot summaries).

The log itself is an icelite table (dogfooding: same atomic-commit format),
with a driver-side pyarrow append fast path so control-plane writes don't pay
a Spark job each.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)

from olake_spark.icelite.stats import footer_stats
from olake_spark.icelite.table import DATA, FileEntry, Table, _may_match

LOG_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("op", StringType(), False),
        StructField("partition", StringType(), True),
        StructField("chunk_id", StringType(), False),
        StructField("rows", LongType(), True),
        StructField("bytes_in", LongType(), True),
        StructField("bytes_out", LongType(), True),
        StructField("snapshot_before", LongType(), True),
        StructField("snapshot_after", LongType(), True),
        StructField("status", StringType(), False),
        StructField("started_at", TimestampType(), True),
        StructField("finished_at", TimestampType(), True),
    ]
)

_PA_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("op", pa.string()),
        ("partition", pa.string()),
        ("chunk_id", pa.string()),
        ("rows", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("snapshot_before", pa.int64()),
        ("snapshot_after", pa.int64()),
        ("status", pa.string()),
        ("started_at", pa.timestamp("us")),
        ("finished_at", pa.timestamp("us")),
    ]
)


def done_rows(job_id: str, op: str, chunks: list[dict]) -> list[dict]:
    """The log rows marking `chunks` of `job_id` done now."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    return [
        {"job_id": job_id, "op": op, "status": "done", "finished_at": now, **c}
        for c in chunks
    ]


def _rows_table(rows: list[dict]) -> pa.Table:
    """Log rows as one pyarrow table; absent optional fields are null and
    `started_at` defaults to now."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = [{"started_at": now, **r} for r in rows]
    return pa.table(
        {f.name: [r.get(f.name) for r in rows] for f in _PA_SCHEMA},
        schema=_PA_SCHEMA,
    )


class MaintenanceLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        meta = os.path.join(root, "metadata")
        if not os.path.isdir(meta) or not os.listdir(meta):
            self.table = Table.create(spark, root, LOG_SCHEMA)
        else:
            self.table = Table.load(spark, root)

    def _append_rows(self, rows: list[dict]) -> None:
        """Driver-side parquet append (no Spark job) through the same atomic
        snapshot commit as any other write."""
        self.table.refresh()
        entry, seq = self._write_file(_rows_table(rows))
        self.table._commit_snapshot("append", [entry], seq_used=seq)

    def _write_file(self, rows: pa.Table) -> tuple[FileEntry, int]:
        """Write `rows` as one data file of the log at the next sequence
        number; returns its manifest entry and that number."""
        t = self.table
        seq = t.meta["last_sequence_number"] + 1
        dest = os.path.join(t.root, "data", f"{seq:06d}-{uuid.uuid4().hex}.parquet")
        pq.write_table(rows, dest)
        st = footer_stats(dest)
        entry = FileEntry(
            DATA, os.path.relpath(dest, t.root), {}, seq,
            st["record_count"], st["file_size_bytes"],
            st["mins"], st["maxs"], st["null_counts"],
        )
        return entry, seq

    def fold(self, rows: list[dict] = ()) -> int:
        """Rewrite the log's live data files, in log order and followed by
        `rows`, into one data file under one manifest: one driver-side
        pyarrow pass and one commit (no Spark job). Every append adds a
        data file and a manifest, so without this a long-lived log grows
        without bound; `run_expire(log=…)` folds it, with its own lineage
        row, before expiring its snapshots. Returns the number of files
        folded (0, and no commit, when there was one or none and no row)."""
        t = self.table
        t.refresh()
        entries = t.entries()
        if len(entries) <= 1 and not rows:
            return 0
        self._check_append_only(entries)
        parts = [pq.read_table(t._abs(e.file_path), schema=_PA_SCHEMA) for e in entries]
        if rows:
            parts.append(_rows_table(rows))
        entry, seq = self._write_file(pa.concat_tables(parts))
        t.rewrite_files(
            {e.file_path for e in entries}, [entry], op="fold", seq_used=seq
        )
        return len(entries)

    def _check_append_only(self, entries: list[FileEntry]) -> None:
        """Only this class writes the log, and it adds data files alone: a
        delete file here means another writer touched it, and a driver-side
        read that skips it would return deleted rows."""
        if any(e.content != DATA for e in entries):
            raise ValueError(
                f"maintenance log {self.table.root}: snapshot "
                f"{self.table.current_snapshot_id} holds delete files; the "
                "log is append-only"
            )

    def log_planned(self, job_id: str, op: str, chunks: list[dict]) -> None:
        self._append_rows(
            [{"job_id": job_id, "op": op, "status": "planned", **c} for c in chunks]
        )

    def log_done(self, job_id: str, op: str, chunk: dict) -> None:
        self.log_done_many(job_id, op, [chunk])

    def log_done_many(self, job_id: str, op: str, chunks: list[dict]) -> None:
        """One atomic log append for a batch of finished chunks."""
        self._append_rows(done_rows(job_id, op, chunks))

    def done_chunk_ids(self, job_id: str) -> set[str]:
        """Chunk ids logged `done` for `job_id`, read on the driver with
        pyarrow from the log's live data files (no Spark job)."""
        t = self.table
        entries = t.entries()
        self._check_append_only(entries)
        want = [("job_id", "==", job_id), ("status", "==", "done")]
        out: set[str] = set()
        for e in entries:
            if not _may_match(e, want):
                continue
            rows = pq.read_table(
                t._abs(e.file_path), columns=["job_id", "chunk_id", "status"]
            ).to_pydict()
            out.update(
                c for j, c, s in zip(rows["job_id"], rows["chunk_id"], rows["status"])
                if j == job_id and s == "done"
            )
        return out

    def metrics_df(self):
        return self.table.scan()
