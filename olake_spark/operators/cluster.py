"""Z-order / Hilbert clustering rewrite with per-partition range groups.

Generalizes the reference's clustered write (sort batch rows by partition
comparator so the writer holds one open file, IcebergTableOperator.java:303-344)
into a space-filling-curve layout rewrite. Two-pass plan, both passes sized
for 10^12-row tables:

1. **Boundary pass (cheap):** scan ONLY (id, phash, w, h) plus the partition
   values — the heavy `bytes` column is pruned at the parquet reader —
   compute the curve key with the vectorized Arrow kernel, and collect the
   coarse `(key>>32)*16+salt` keys of at most `boundary_sample_rows`
   sampled rows to the driver through Arrow. There each table partition
   is cut into `k_b` equal-frequency slices, `k_b = ceil(bytes_b /
   target)` from the manifest sizes already on the driver.
2. **Rewrite pass (one full scan):** recompute the key; a broadcast join on
   the partition values gives each row its partition's group offset and
   cut points, and the row's group id is `offset_b + #(cuts_b <= key)`.
   `repartitionById` sends each group straight to its own task — no hash
   of the id, so two groups never share a task and every task writes ONE
   key-contiguous slice of ONE partition — then rows sort within the task
   by the full curve key and are written as ≈target-sized files.

Salt: the coarse key appends 4 salt bits below the curve key, so rows with
IDENTICAL keys (the planted hot 0xBEEF phash prefix) straddle cuts and
split across tasks, while curve order is preserved to coarse-key
resolution. After the rewrite, per-file min/max of `phash` tighten within
each partition, so phash-range scans prune files (verified in tests).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.functions.zorder import hilbert_key_col, zorder_key_col
from olake_spark.icelite.table import DATA, Table
from olake_spark.operators.compact import dead_deletes

SALT_BITS = 4  # 16 salt buckets inside each coarse key
# the directory value Spark's partitioned writer gives a null or empty value
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _coarse_key(ckey, salt):
    # top 31 bits of the curve key, salt in the low 4 bits: fits int64,
    # order-preserving at coarse resolution
    return F.shiftleft(F.shiftright(ckey, 32), SALT_BITS) + salt


def _partition_keys(names: list[str]) -> dict:
    """The partition tuple as the strings the writer puts in directory names
    — and so in `FileEntry.partition` — one `_pk<i>` column per spec field
    (one constant column for an unpartitioned table)."""
    if not names:
        return {"_pk0": F.lit("")}
    return {
        f"_pk{i}": F.coalesce(
            F.nullif(F.col(n).cast("string"), F.lit("")), F.lit(DEFAULT_PARTITION)
        )
        for i, n in enumerate(names)
    }


def _range_groups(sample, data_entries, names, target_bytes):
    """Plan the rewrite's groups: `k_b = ceil(bytes_b / target)`
    key-contiguous slices per table partition. `sample` holds the `_pk*`
    partition keys and the coarse `_skey` of the boundary pass's rows (at
    most `boundary_sample_rows`, collected to the driver through Arrow).
    Returns (lookup DataFrame `(*_pk, _off, _cuts)`, group count).

    `bytes_b` comes from the manifest. Bytes of files written under an
    older spec have no current partition: they are spread over the
    partitions in proportion to their sampled rows. Within each partition
    the sampled keys are ranked; a cut is the key of the first row of each
    slice after the first. Rows of a partition missing from both sides
    find no lookup row and go to task 0 — a layout cost only, the write
    still splits files by partition."""
    pk = [c for c in sample.columns if c != "_skey"]
    ranked = {
        key: np.sort(v.dropna().to_numpy())
        for key, v in sample.toPandas().groupby(pk)["_skey"]
    }
    part_bytes: dict[tuple, int] = {}
    for e in data_entries:
        if set(e.partition) == set(names):
            key = tuple(e.partition[n] for n in names) or ("",)
            part_bytes[key] = part_bytes.get(key, 0) + e.file_size_bytes
    spare = sum(e.file_size_bytes for e in data_entries) - sum(part_bytes.values())
    n_sampled = max(1, sum(len(v) for v in ranked.values()))
    for key, v in ranked.items():
        part_bytes[key] = part_bytes.get(key, 0) + spare * len(v) // n_sampled

    rows, off = [], 0
    for key in sorted(part_bytes):
        v, kb = ranked.get(key, []), max(1, math.ceil(part_bytes[key] / target_bytes))
        # slice g starts at rank ceil(g * n / k_b)
        starts = {(g * len(v) + kb - 1) // kb for g in range(1, kb)}
        cuts = sorted({int(v[r]) for r in starts if 0 < r < len(v)})
        rows.append((*key, off, cuts))
        off += kb
    # built through Arrow from pandas: a Python-list createDataFrame would
    # cost a Python-worker job when the broadcast materializes
    ddl = ", ".join(f"{c} string" for c in pk)
    lookup = sample.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=[*pk, "_off", "_cuts"]),
        f"{ddl}, _off int, _cuts array<bigint>",
    )
    return lookup, max(1, off)


def run_cluster_rewrite(
    table: Table,
    job_id: str,
    curve: str = "zorder",  # or "hilbert"
    log: MaintenanceLog | None = None,
    target_bytes: int | None = None,
    key_cols: tuple[str, str, str] = ("phash", "w", "h"),
    boundary_sample_rows: int = 1_000_000,
    verify: bool = False,
) -> dict:
    """Rewrite the whole table clustered by the chosen curve key. The scan
    applies every delete, so the commit also drops the delete files the
    rewritten table leaves dead (`delete_files_purged`). Skipped, log or
    no log, while every live data file is the output of a retained
    `cluster` snapshot of the same `job_id` and `curve`."""
    table.refresh()
    if target_bytes is None:
        target_bytes = table.target_file_size
    snap_before = table.current_snapshot_id
    entries = table.entries()
    data_entries = [e for e in entries if e.content == DATA]
    # rewrite guard: a delete committed after this pin must conflict, not be
    # silently out-raced by the re-sequenced rows (see Table._commit_snapshot)
    pinned_dels = {e.file_path for e in entries if e.content != DATA}
    if not data_entries:
        return {"files_in": 0, "files_out": 0, "rows": 0}
    total_bytes = sum(e.file_size_bytes for e in data_entries)
    total_rows = sum(e.record_count for e in data_entries)
    chunk_id = f"cluster-{curve}"
    # a committed run of this job still holds every live row: nothing to redo
    done = {
        s["sequence_number"] for s in table.snapshots()
        if s.get("operation") == "cluster"
        and s["summary"].get("job_id") == job_id
        and s["summary"].get("curve") == curve
    }
    if all(e.seq in done for e in data_entries):
        return {"files_in": 0, "files_out": 0, "rows": 0, "skipped": True}
    if log is not None:
        log.log_planned(
            job_id, "cluster",
            [{"chunk_id": chunk_id, "rows": total_rows, "bytes_in": total_bytes}],
        )

    keyfn = zorder_key_col if curve == "zorder" else hilbert_key_col
    avg_row = max(1, total_bytes // max(1, total_rows))
    per_file = max(1, target_bytes // avg_row)
    id_col = table.identifier_fields[0] if table.identifier_fields else key_cols[0]
    spec = table.spec
    keys = _partition_keys(spec.names)

    def skey(ckey):
        return _coarse_key(ckey, F.pmod(F.xxhash64(id_col), F.lit(1 << SALT_BITS)))

    # ---- pass 1: per-partition cuts from the pruned projection (never reads bytes)
    slim = table.scan(columns=[id_col, *key_cols], with_partition_cols=True)
    frac = min(1.0, boundary_sample_rows / max(1, total_rows))
    if frac < 1.0:
        slim = slim.sample(fraction=frac, seed=42)
    slim = slim.withColumns(keys).select(
        *keys, skey(keyfn(*[F.col(c) for c in key_cols])).alias("_skey")
    )
    groups, n_groups = _range_groups(slim, data_entries, spec.names, target_bytes)

    # ---- pass 2: single full scan → group id → direct shuffle → sort
    df = table.scan(with_partition_cols=False)
    if verify:
        from olake_spark.verify import inline_pixel_check

        df = inline_pixel_check(df)
    df = df.withColumn("_ckey", keyfn(*[F.col(c) for c in key_cols]))
    df = df.withColumn("_skey", skey(F.col("_ckey")))
    # a row's group: its partition's offset + the cuts at or below its key
    df = (
        spec.apply(df).withColumns(keys)
        .join(F.broadcast(groups), list(keys), "left")
        .withColumn("_gid", (
            F.col("_off") + F.size(F.filter("_cuts", lambda c: c <= F.col("_skey")))
        ).cast("int"))
    )
    clustered = (
        df.repartitionById(n_groups, "_gid")
        .sortWithinPartitions(*spec.names, "_ckey")
        .drop("_ckey", "_skey", "_off", "_cuts", "_gid", *keys)
    )
    seq = table.meta["last_sequence_number"] + 1
    # sort_within_by=[]: the curve sort above IS this rewrite's file order —
    # the table's declared PK sort order must not override it
    added = table._stage_write(
        clustered, seq, max_records_per_file=per_file, sort_within_by=[]
    )
    dead = {
        e.file_path for e in dead_deletes(
            table, [e for e in entries if e.content != DATA] + added
        )
    }
    snap = table.rewrite_files(
        {e.file_path for e in data_entries} | dead, added, op="cluster",
        extra_summary={
            "job_id": job_id, "curve": curve,
            **({"purged-delete-files": len(dead)} if dead else {}),
        },
        seq_used=seq, known_delete_paths=pinned_dels,
    )
    if log is not None:
        log.log_done(
            job_id, "cluster",
            {"chunk_id": chunk_id, "rows": total_rows, "bytes_in": total_bytes,
             "bytes_out": sum(e.file_size_bytes for e in added),
             "snapshot_before": snap_before,
             "snapshot_after": snap.get("snapshot_id")},
        )
    return {
        "files_in": len(data_entries),
        "files_out": len(added),
        "rows": total_rows,
        "curve": curve,
        "delete_files_purged": len(dead),
    }
