"""icelite as a Structured Streaming SINK — Iceberg's Spark streaming write
(``df.writeStream.format("iceberg")``) re-expressed through PySpark 4.1's
Arrow stream-writer Data Source API.

    spark.dataSource.register(IceliteSinkDataSource)
    (df.writeStream.format("icelite-sink")
       .option("path", table_root)
       .option("txn_app", "my-query")       # exactly-once identity
       .option("mode", "upsert")            # default: append
       .option("checkpointLocation", ckpt)
       .start())

Execution shape (the Iceberg sink's, executor-driven):
  * ``write`` runs per task on executors: Arrow record batches stream
    straight into ONE parquet file per task under the table's data/
    directory (no staging hop, no driver bytes), and the file's
    min/max/null manifest stats are harvested from its footer in the same
    task — zero extra jobs, zero driver I/O. Like every icelite data file,
    it has no parquet statistics on binary columns
    (`icelite.stats.unstated_columns`).
  * ``commit`` runs once per micro-batch on the driver: one atomic
    metadata-only snapshot commit registering every task's file. The commit
    carries ``txn=(txn_app, batchId)`` — the idempotent-writer transaction
    checked inside the commit CAS — so a micro-batch replayed after a crash
    between commit and checkpoint is a provable no-op and its re-written
    files are removed (exactly-once, the txnAppId/txnVersion pattern).
  * ``abort`` removes the failed batch's files in one batched FileIO call;
    a crash that skips abort leaves orphans for ``remove_orphan_files``.

``mode=upsert`` mirrors the reference's DEFAULT streaming destination
(equality-delete-before-insert; IcebergTableWriterFactory.java:45-58 builds
a delta writer when upsert is on, BaseDeltaTaskWriter.java:50-61 writes the
delete for each incoming row's key before the insert): each task writes the
data file PLUS one equality-delete key file (the task rows' identifier
fields) under deletes/, and the driver commits both at the SAME sequence
number in one ``rowdelta`` snapshot — the delete kills strictly-older rows
with those keys while the batch's own rows survive (delete seq <= data seq),
exactly ``Table.row_delta``'s semantics. The delete key files carry no
``_delete_seq`` column (executors write before the commit seq exists);
reconciliation takes the sequence from the manifest entry, which is
authoritative for batch writers too. Contract: at most one row per key per
micro-batch — run the CDC window dedup (operators.merge.latest_by_key / the
stateful streaming dedup) upstream when a batch can carry multiple changes
for one key, as the reference's Mongo CDC feed does.

Files are written unpartitioned ({} partition values, no in-stream sort):
scans stay correct because icelite recomputes partition values from row
values, and the nightly compaction/cluster pass migrates streamed files
into layout — exactly how the reference splits ingest (fast, append-only)
from maintenance (layout-restoring rewrites).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (DataSource, DataSourceStreamArrowWriter,
                                    WriterCommitMessage)
from pyspark.sql.types import StructType

from olake_spark.icelite.stats import footer_stats, unstated_columns
from olake_spark.icelite.table import DATA, EQ_DELETES, FileEntry, Table


def _stated_paths(schema, unstated: set[str]) -> list[str] | bool:
    """`write_statistics=` for a data file: every parquet leaf column except
    the `unstated` top-level ones (a flat column's leaf path is its name;
    pyarrow matches leaf paths, so nested columns are listed leaf by leaf)."""
    if not unstated:
        return True
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_metadata(schema, buf)
    leaves = pq.read_metadata(pa.BufferReader(buf.getvalue())).schema
    paths = (leaves.column(i).path for i in range(len(leaves)))
    return [p for p in paths if p not in unstated]


@dataclass
class IceliteCommitMessage(WriterCommitMessage):
    rel_path: str | None  # None: the task saw zero rows, wrote nothing
    record_count: int
    file_size_bytes: int
    mins: dict
    maxs: dict
    nulls: dict
    # upsert mode: the task's equality-delete key file (None in append mode
    # or when the task saw zero rows)
    delete_rel_path: str | None = None
    delete_record_count: int = 0
    delete_file_size_bytes: int = 0
    delete_mins: dict | None = None
    delete_maxs: dict | None = None
    delete_nulls: dict | None = None


class IceliteStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, schema: StructType, options: dict):
        self.root = os.path.abspath(options["path"])
        self.txn_app = options.get("txn_app", "icelite-sink")
        self.upsert = options.get("mode", "append").lower() == "upsert"
        self.columns = [f.name for f in schema.fields]
        self.unstated = set(unstated_columns(schema))
        t = self._table()
        table_fields = {f.name: f.dataType for f in t.schema.fields}
        missing = set(table_fields) - set(self.columns)
        extra = set(self.columns) - set(table_fields)
        if missing or extra:
            raise ValueError(
                f"stream schema mismatch: missing {sorted(missing)}, "
                f"unknown {sorted(extra)}"
            )
        # types too: a name-only check would durably commit parquet the
        # table's schema-enforced reader can't scan
        drift = {
            f.name: (str(f.dataType), str(table_fields[f.name]))
            for f in schema.fields
            if f.dataType != table_fields[f.name]
        }
        if drift:
            raise ValueError(f"stream schema type mismatch: {drift}")
        self.identifier_fields = tuple(t.identifier_fields or ())
        if self.upsert and not self.identifier_fields:
            raise ValueError(
                "mode=upsert needs the table to declare identifier_fields "
                "(the equality-delete key) — this table has none"
            )

    def _table(self) -> Table:
        # metadata-only view (commit/abort never launch Spark jobs); the
        # Table is built per call — it holds an RLock and must not be
        # pickled to executors with the writer
        return Table(None, self.root).refresh()

    # ------------------------------------------------------ executor side

    def write(self, iterator: Iterator) -> IceliteCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = os.path.join("data", f"stream-{uuid.uuid4().hex}.parquet")
        path = os.path.join(self.root, rel)
        writer: pq.ParquetWriter | None = None
        dwriter: pq.ParquetWriter | None = None
        drel = dpath = None
        if self.upsert:
            drel = os.path.join(
                "deletes", f"stream-{uuid.uuid4().hex}.parquet"
            )
            dpath = os.path.join(self.root, drel)
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(
                    path, batch.schema,
                    write_statistics=_stated_paths(batch.schema, self.unstated),
                )
            writer.write_batch(batch)
            if self.upsert:
                keys = batch.select(list(self.identifier_fields))
                if dwriter is None:
                    dwriter = pq.ParquetWriter(dpath, keys.schema)
                dwriter.write_batch(keys)
        if writer is None:
            return IceliteCommitMessage(None, 0, 0, {}, {}, {})
        writer.close()
        st = footer_stats(path)  # same manifest-stats conventions as append
        msg = IceliteCommitMessage(
            rel, st["record_count"], st["file_size_bytes"],
            st["mins"], st["maxs"], st["null_counts"],
        )
        if dwriter is not None:
            dwriter.close()
            dst = footer_stats(dpath)
            msg.delete_rel_path = drel
            msg.delete_record_count = dst["record_count"]
            msg.delete_file_size_bytes = dst["file_size_bytes"]
            msg.delete_mins = dst["mins"]
            msg.delete_maxs = dst["maxs"]
            msg.delete_nulls = dst["null_counts"]
        return msg

    # -------------------------------------------------------- driver side

    def commit(self, messages, batchId: int) -> None:
        t = self._table()
        seq = t.meta["last_sequence_number"] + 1
        entries = []
        for m in messages:
            if m is None or m.rel_path is None:
                continue
            # delete entry FIRST so _added_entries-driven feeds (changelog)
            # see delete-before-insert order within the snapshot
            if m.delete_rel_path is not None:
                entries.append(FileEntry(
                    EQ_DELETES, m.delete_rel_path, {}, seq,
                    m.delete_record_count, m.delete_file_size_bytes,
                    m.delete_mins or {}, m.delete_maxs or {},
                    m.delete_nulls or {},
                ))
        for m in messages:
            if m is None or m.rel_path is None:
                continue
            entries.append(FileEntry(
                DATA, m.rel_path, {}, seq,
                m.record_count, m.file_size_bytes, m.mins, m.maxs, m.nulls,
            ))
        # commit even when empty: the txn version must still advance, or a
        # replay of a later non-empty batch could double-apply after a
        # crash that lost only the empty batch's checkpoint entry
        # restamp_seq: if this commit loses the CAS to a concurrent writer
        # (e.g. nightly compaction), the retry re-stamps data AND delete
        # entries from fresh metadata — without it the eq-delete would share
        # a sequence number with the winner and stop killing its rows
        t._commit_snapshot(
            "rowdelta" if self.upsert else "append", entries, seq_used=seq,
            txn=(self.txn_app, batchId),
            extra_summary={"streaming-batch-id": batchId},
            restamp_seq=True,
        )

    def abort(self, messages, batchId: int) -> None:
        victims = []
        for m in messages:
            if m is None:
                continue
            if m.rel_path is not None:
                victims.append(os.path.join(self.root, m.rel_path))
            if m.delete_rel_path is not None:
                victims.append(os.path.join(self.root, m.delete_rel_path))
        if victims:
            try:
                self._table().io.remove_many(victims)
            except OSError:
                pass  # best effort; the orphan reaper collects stragglers


class IceliteSinkDataSource(DataSource):
    """``format("icelite-sink")`` — streaming append/upsert writes to
    icelite."""

    @classmethod
    def name(cls) -> str:
        return "icelite-sink"

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "icelite-sink supports append output mode only (with "
                "option mode=upsert for equality-delete-before-insert); "
                "full retraction streams go through sync.apply_cdc_stream"
            )
        return IceliteStreamWriter(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(IceliteSinkDataSource)


def write_table_stream(df, root: str, checkpoint: str, txn_app: str,
                       trigger: dict | None = None, mode: str = "append"):
    """Convenience: register + start an append/upsert stream into a table
    root."""
    register(df.sparkSession)
    w = (
        df.writeStream.format("icelite-sink")
        .option("path", root)
        .option("txn_app", txn_app)
        .option("mode", mode)
        .option("checkpointLocation", checkpoint)
    )
    return w.trigger(**(trigger or {"availableNow": True})).start()
