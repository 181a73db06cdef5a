"""`sync` — the reference's main verb, re-expressed Spark-first.

OLake's sync = chunked parallel backfill of a source into Iceberg, then CDC
apply, with chunk-granular resumable state (SURVEY.md §3.1). Here:

- `backfill`: equal-frequency key ranges via approxQuantile (the Spark
  rendition of splitVector/bucketAuto/numeric-range chunking, S2/S3/S6),
  ONE staged write of all pending chunks (rows routed to their chunk id),
  per-chunk-group atomic commits + lineage log; each commit records how many
  plan chunks have landed in an idempotent-writer txn, so a rerun with the
  same job_id writes only the chunks after that prefix — the reference's
  state.SetChunks/RemoveChunk loop (types/state.go:187-230,
  drivers/abstract/backfill.go:16-68).
- `apply_cdc_stream`: bounded Structured-Streaming drain of a change feed,
  each micro-batch applied through MERGE INTO (foreachBatch → merge_into);
  offsets live in the streaming checkpoint — the WAL/binlog resume cursor
  (pkg/waljs/waljs.go:139-230).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite.table import COMMIT_GROUP, Table


def plan_chunks(
    source: DataFrame, key_col: str, n_chunks: int
) -> list[tuple]:
    """Equal-frequency half-open key ranges [lo, hi); first lo / last hi are
    None (unbounded). Sampled boundaries — the splitVector equivalent."""
    if n_chunks <= 1:
        return [(None, None)]
    probs = [i / n_chunks for i in range(1, n_chunks)]
    bounds = source.select(F.col(key_col).cast("double").alias("_k")).approxQuantile(
        "_k", probs, 0.001
    )
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    edges = [None, *uniq, None]
    return [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]


def plan_chunks_multi(
    source: DataFrame,
    key_cols: list[str],
    n_chunks: int,
    sample_rows: int = 65536,
    seed: int = 42,
) -> list[tuple]:
    """S8 composite chunk keys: lexicographic boundary TUPLES over
    (a, b, …) — the reference's multi-PK next-chunk walk
    (drivers/mysql/internal/backfill.go:52-156) re-expressed as the
    sample-sort-pick boundary scheme Spark's own RangePartitioner uses:
    sample the pruned key projection (bounded driver footprint regardless of
    table size), sort, take equal-spaced tuples. Works for string/composite
    keys that the numeric approxQuantile path can't chunk."""
    if n_chunks <= 1:
        return [(None, None)]
    keys = source.select(*key_cols)
    n = keys.count()
    if n == 0:
        return [(None, None)]
    frac = min(1.0, sample_rows / n)
    sampled = (
        keys.sample(fraction=frac, seed=seed) if frac < 1.0 else keys
    ).collect()
    # NULL-containing key tuples are un-orderable in Python AND unusable as
    # struct-comparison literals (NULL comparisons yield NULL): exclude them
    # from boundary selection — backfill routes null-key rows to the
    # unbounded-left chunk instead
    tuples = sorted(
        tuple(r) for r in sampled if all(v is not None for v in r)
    )
    if not tuples:
        return [(None, None)]
    bounds: list[tuple] = []
    for i in range(1, n_chunks):
        b = tuples[min(len(tuples) - 1, (i * len(tuples)) // n_chunks)]
        if (not bounds or b > bounds[-1]) and b > tuples[0]:
            bounds.append(b)
    edges = [None, *bounds, None]
    return [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]


def _lexicographic_key(source: DataFrame, key_cols: list[str]) -> bool:
    """True when chunking must go through the sample-sort-pick boundary
    scheme: composite keys always, and any single key the numeric
    approxQuantile planner can't cast to double (string / date / binary PKs
    — the reference chunks those with its lexicographic next-chunk walk
    too)."""
    from pyspark.sql.types import NumericType, TimestampType

    if len(key_cols) > 1:
        return True
    dt = source.schema[key_cols[0]].dataType
    return not isinstance(dt, (NumericType, TimestampType))


def route_to_chunks(
    source: DataFrame, key_cols: list[str], todo: list[tuple]
) -> DataFrame:
    """Tag each source row with the index of its pending chunk (`_chunk_`),
    dropping rows of already-done chunks. Pure narrow Catalyst expressions —
    boundary literals + when/otherwise chains, NO window and NO shuffle: the
    production backfill plan stays embarrassingly parallel at any table size
    (the s2/s7 gate queries' global windows are semantics pins of the
    reference's planner output, not this execution path — see
    tests/test_plans.py::test_backfill_routing_no_global_window)."""
    if _lexicographic_key(source, key_cols):
        fields = source.select(*key_cols).schema.fields
        k = F.struct(*[F.col(c) for c in key_cols])

        def bound_lit(tup):
            return F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(tup, fields)
                ]
            )
    else:
        k = F.col(key_cols[0]).cast("double")
        bound_lit = F.lit
    cid = F.lit(None).cast("int")
    cond_any = F.lit(False)
    # a row with any NULL key field fails every range comparison (NULL
    # semantics) — route it to the unbounded-left chunk, STABLY across runs
    # (resume must re-derive the same chunk id for the same row)
    null_key = F.lit(False)
    for c_name in key_cols:
        null_key = null_key | F.col(c_name).isNull()
    for i, (lo, hi) in enumerate(todo):
        c = F.lit(True)
        if lo is not None:
            c = c & (k >= bound_lit(lo))
        if hi is not None:
            c = c & (k < bound_lit(hi))
        if lo is None:
            c = (c & ~null_key) | null_key
        cid = F.when(c & cid.isNull(), F.lit(i)).otherwise(cid)
        cond_any = cond_any | c
    return source.filter(cond_any).withColumn("_chunk_", cid)


def backfill(
    table: Table,
    source: DataFrame,
    key_col: str | list[str] | tuple[str, ...],
    job_id: str,
    log: MaintenanceLog | None = None,
    n_chunks: int = 16,
    max_records_per_file: int | None = None,
) -> dict:
    """Chunked, resumable full load of `source` into `table`.

    `key_col` may be a single numeric/timestamp column (approxQuantile
    boundaries), a single string/date column (sampled lexicographic
    boundaries — the numeric planner can't cast those), or a LIST of
    columns — a lexicographic composite key (S8): chunk membership is a
    Catalyst struct comparison, which Spark defines lexicographically, so
    string / multi-column PKs chunk exactly like the reference's
    `(a, b) > (x, y)` walks. Resume state is one table property per job
    id, plan and source, kept for good (expiry does not drop it)."""
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    chunks = (
        plan_chunks_multi(source, key_cols, n_chunks)
        if _lexicographic_key(source, key_cols)
        else plan_chunks(source, key_cols[0], n_chunks)
    )
    # resume: the txn counts the plan chunks landed (groups commit in plan
    # order: a prefix); a changed plan or source gets a new key and runs in
    # full. A source without input files is named by its keys' count + hash
    ident = sorted(source.inputFiles()) or tuple(source.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")),
    ).first())
    digest = hashlib.sha1(repr((chunks, ident)).encode()).hexdigest()[:12]
    txn_key = f"backfill-{job_id}-{digest}"
    table.refresh()
    done = int(table.meta["properties"].get(f"txn.{txn_key}", 0))
    todo = chunks[done:]
    ids = [f"chunk-{lo}-{hi}" for lo, hi in todo]
    if not todo:
        return {"chunks_planned": len(chunks), "chunks_executed": 0,
                "chunks_skipped": len(chunks)}
    if log is not None:
        log.log_planned(job_id, "backfill", [{"chunk_id": c} for c in ids])

    # route each row to its pending chunk; rows of done chunks are filtered
    # out BEFORE the write (resume re-reads the source but rewrites nothing)
    df = route_to_chunks(source, key_cols, todo)

    seq = table.meta["last_sequence_number"] + 1
    # one task per pending chunk: the chunk index is the shuffle partition id
    per_chunk = table._stage_write(
        df.repartitionById(len(todo), F.col("_chunk_").cast("int")), seq,
        max_records_per_file, group_col="_chunk_",
    )

    executed = rows_total = 0
    for g in range(0, len(todo), COMMIT_GROUP):
        group = range(g, min(g + COMMIT_GROUP, len(todo)))
        added = [e for i in group for e in per_chunk.get(i, [])]
        # a racing run of the same plan may have landed this group first:
        # the commit is then skipped and its staged files removed
        snap = table._commit_snapshot(
            "append", added,
            extra_summary={"job_id": job_id, "chunk_ids": [ids[i] for i in group]},
            seq_used=seq, txn=(txn_key, done + group.stop),
        )
        if snap.get("skipped"):
            continue
        executed += len(group)
        rows_total += sum(e.record_count for e in added)
        if log is not None:
            log.log_done_many(job_id, "backfill", [
                {"chunk_id": ids[i],
                 "rows": sum(e.record_count for e in per_chunk.get(i, []))}
                for i in group
            ])
    return {
        "chunks_planned": len(chunks),
        "chunks_executed": executed,
        "chunks_skipped": done,
        "rows_written": rows_total,
    }


def apply_cdc_stream(
    table: Table,
    changes_stream: DataFrame,
    checkpoint_dir: str,
    keep_deletes: bool | None = None,
    streams: list[str] | set[str] | None = None,
    stream_col: str = "_stream",
    exclude: list[str] | set[str] | None = None,
    evolve: bool = False,
) -> None:
    """Drain a bounded change-feed stream, applying each micro-batch with
    MERGE INTO. availableNow ≙ 'consume up to the position captured at
    start, then stop' (waljs.go:172-179); the checkpoint dir is the resume
    cursor. `streams` keeps only events of the selected tables (P4);
    `exclude` drops the listed columns before the write (P7); `evolve=True`
    union-by-names NEW batch columns into the table schema before applying
    (the reference's updateSchema drift handling — its sink always evolves;
    here it is opt-in so unexpected upstream drift fails loudly by
    default).

    Exactly-once: each micro-batch commits with an idempotent-writer
    transaction keyed on the checkpoint dir + Spark's epoch id, recorded
    atomically in table properties — a batch replayed after a crash between
    the MERGE commit and the checkpoint advance (or after checkpoint loss,
    if the feed replays from the same offsets) is a provable no-op."""
    from olake_spark.functions.reformat import cdc_stream_filter, exclude_columns
    from olake_spark.operators.merge import merge_into

    txn_app = _txn_app_id("cdc", checkpoint_dir)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if streams is not None:
            b = cdc_stream_filter(b, streams, stream_col)
        if exclude:
            b = exclude_columns(b, exclude)
        if b.isEmpty():
            return
        # only the explicitly excluded columns may be absent from the batch —
        # schema drift on any other column still raises inside merge_into
        merge_into(
            table, b, keep_deletes=keep_deletes,
            allow_partial=set(exclude) if exclude else False,
            evolve=evolve,
            txn=(txn_app, int(batch_id)),
        )

    q = (
        changes_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _txn_app_id(kind: str, checkpoint_dir: str) -> str:
    """Stable idempotent-writer app id for a streaming sink: derived from
    the checkpoint path, so restarts of the same query share it while two
    different queries writing the same table never collide."""
    digest = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    return f"{kind}-{digest}"


def append_stream(
    table: Table,
    stream: DataFrame,
    checkpoint_dir: str,
    max_records_per_file: int | None = None,
) -> None:
    """Append-mode streaming sink (ST6's non-upsert half): drain a bounded
    stream into the table, one atomic append snapshot per micro-batch.

    Unlike MERGE (naturally idempotent per key), a replayed APPEND batch
    would duplicate rows — so each commit carries the idempotent-writer
    transaction (checkpoint-derived app id, epoch id) and replays skip."""
    txn_app = _txn_app_id("append", checkpoint_dir)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append(
            batch_df, max_records_per_file=max_records_per_file,
            txn=(txn_app, int(batch_id)),
        )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
