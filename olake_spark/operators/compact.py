"""Bin-packing small-file compaction (north_star: "size-tiered file grouping").

The reference targets 512MB data files (IcebergTableWriterFactory.java:41-43;
Go side plans ~512MB parquet, constants/constants.go:21-22) but streaming CDC
ingest inevitably leaves small files. This operator:

1. **plans from metadata only** — the manifest `files` listing; the heavy
   `bytes` column is never read during planning;
2. groups undersized files (size < fill_ratio × target) per partition with
   first-fit-decreasing into bins summing to ≈ target;
3. executes each bin as one rewrite: scan exactly those files (equality
   deletes applied → rewrite also *purges* deletes), write ≈target-sized
   files, atomically swap via a rewrite snapshot;
4. logs per-chunk lineage to the maintenance log; a rerun with the same
   job_id skips bins already logged done (idempotent resume — the analogue of
   state.RemoveChunk, types/state.go:187-230).

Each bin reads only its own files — at 10^12-image scale no task ever holds
more than ~target bytes of encoded pixels, and bins are independent.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass, field

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite.table import (DATA, EQ_DELETES, POS_DELETES,
                                       CommitConflict, FileEntry, Table)

DEFAULT_TARGET = 512 * 1024 * 1024


def purge_dead_deletes(table: Table) -> int:
    """Drop delete files that no longer apply to any live data file.

    Equality deletes: a delete at sequence d kills rows only in data files
    with seq < d; once compaction has rewritten every older file (rewrites
    get fresh, higher seqs), the delete is dead weight — removing it takes
    the reconciliation join out of every future scan.

    Positional deletes: dead once none of the exact data file paths they
    reference are live (rewrites mint new uuid paths). The per-file
    [min,max] file_path stats decide most cases without a read; only
    range-overlapping candidates get their referenced-path set read (small
    files, dictionary-encoded path column). Metadata-only commit."""
    import bisect

    import pyarrow.parquet as _pq

    table.refresh()
    entries = table.entries()
    data_seqs = [e.seq for e in entries if e.content == DATA]
    min_seq = min(data_seqs) if data_seqs else float("inf")
    dead = [e for e in entries if e.content == EQ_DELETES and e.seq <= min_seq]
    live_paths = sorted(e.file_path for e in entries if e.content == DATA)
    live_set = set(live_paths)
    def _refs_live(e: FileEntry) -> bool:
        # exact check: read the referenced-path set (small file,
        # dictionary-encoded path column)
        refd = set(
            _pq.read_table(table._abs(e.file_path), columns=["file_path"])
            .column("file_path")
            .to_pylist()
        )
        return not refd.isdisjoint(live_set)

    for e in entries:
        if e.content != POS_DELETES:
            continue
        if not live_paths:
            dead.append(e)  # no live data files at all — provably dead
            continue
        lo, hi = e.mins.get("file_path"), e.maxs.get("file_path")
        if lo is None or hi is None:
            # stats-less delete file: same conservative default as
            # Table._apply_pos_deletes — decide by exact read, never
            # assume dead (purging a live mark resurrects deleted rows)
            if not _refs_live(e):
                dead.append(e)
            continue
        i = bisect.bisect_left(live_paths, lo)
        if i < len(live_paths) and live_paths[i] <= hi:
            # range overlap — exact check on the referenced set
            if _refs_live(e):
                continue
        dead.append(e)
    if dead:
        table.rewrite_files(
            {e.file_path for e in dead}, [], op="purge-deletes",
            extra_summary={"purged-delete-files": len(dead)},
        )
    return len(dead)


def rewrite_position_deletes(
    table: Table,
    target_rows_per_file: int = 2_000_000,
    retries: int = 5,
) -> dict:
    """Iceberg's RewritePositionDeleteFiles action: consolidate the
    pos-delete debt predicate deletes leave behind — one tiny content=1
    file per DELETE commit, each an extra input to every scan's anti-join —
    into ≈`target_rows_per_file`-row files, dropping dangling marks (data
    file no longer live: a rewrite minted new uuid paths, so the mark can
    never match again) and exact duplicate (file_path, pos) pairs. Data
    files are untouched; scan results are provably identical because the
    surviving mark set equals the old set restricted to live data files.

    Scale shape: ONE distributed pass over the delete rows (semi-join
    against a broadcast of live data paths — O(file count), the same
    cardinality every commit already walks), one shuffle to consolidate.
    Commit removes the old delete files atomically; a concurrent compaction
    that folded/purged any of them surfaces as CommitConflict (removal-set
    validation) and the whole op re-plans from fresh metadata. Concurrent
    NEW delete commits are untouched and stay live — no guard needed."""
    from pyspark.sql import functions as F

    last: Exception | None = None
    for _ in range(retries):
        table.refresh()
        entries = table.entries()
        pos = [e for e in entries if e.content == POS_DELETES]
        old_rows = sum(e.record_count for e in pos)
        live = [e.file_path for e in entries if e.content == DATA]
        # nothing to consolidate: 0-1 delete files and no dangling risk
        if len(pos) <= 1 or not live:
            return {
                "rewritten_files": 0, "added_files": 0,
                "old_marks": old_rows, "kept_marks": old_rows,
            }
        marks = table.spark.read.parquet(
            *[table._abs(e.file_path) for e in pos]
        )
        live_df = F.broadcast(
            table.spark.createDataFrame(
                [(p,) for p in live], "file_path string"
            )
        )
        kept = (
            marks.join(live_df, "file_path", "left_semi")
            .select("file_path", "pos")
            .distinct()
        )
        seq, _ = table._next_ids(table.meta)
        n_out = max(1, math.ceil(old_rows / target_rows_per_file))
        added = table._write_pos_delete_files(kept, seq, n_files=n_out)
        kept_rows = sum(e.record_count for e in added)
        try:
            table.rewrite_files(
                {e.file_path for e in pos}, added,
                op="rewrite-deletes", seq_used=seq,
                extra_summary={
                    "rewritten-delete-files": len(pos),
                    "dropped-marks": old_rows - kept_rows,
                },
            )
            return {
                "rewritten_files": len(pos), "added_files": len(added),
                "old_marks": old_rows, "kept_marks": kept_rows,
            }
        except CommitConflict as ce:
            # a concurrent rewrite consumed one of the old delete files:
            # discard our output and re-plan against fresh metadata
            table.io.remove_many([table._abs(e.file_path) for e in added])
            last = ce
    raise last  # type: ignore[misc]


@dataclass
class Bin:
    partition_json: str
    files: list[FileEntry] = field(default_factory=list)

    @property
    def total_bytes(self) -> int:
        return sum(f.file_size_bytes for f in self.files)

    @property
    def total_rows(self) -> int:
        return sum(f.record_count for f in self.files)

    @property
    def chunk_id(self) -> str:
        h = hashlib.sha1(
            "\n".join(sorted(f.file_path for f in self.files)).encode()
        ).hexdigest()[:16]
        return f"bin-{h}"


def plan_compaction(
    table: Table,
    target_bytes: int | None = None,
    fill_ratio: float = 0.5,
    min_files_per_bin: int = 2,
    snapshot_id: int | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
) -> list[Bin]:
    """Size-tiered first-fit-decreasing bin packing per partition.

    `predicates` scopes the plan (Iceberg RewriteDataFiles `filter`): only
    files whose min/max stats MAY contain a matching row become candidates —
    whole files, never row subsets, exactly Iceberg's file-level semantics.
    At deployment scale this is what keeps nightly maintenance bounded: the
    10^12-row table compacts yesterday's partitions, not its whole history.
    """
    if target_bytes is None:
        target_bytes = int(
            table.meta["properties"].get("write.target-file-size-bytes", DEFAULT_TARGET)
        )
    small_cut = int(target_bytes * fill_ratio)
    entries = table.entries(snapshot_id)
    if predicates:
        from olake_spark.icelite.table import _may_match

        entries = [
            e
            for e in entries
            if e.content != DATA or _may_match(e, predicates)
        ]
    # a file is delete-burdened if some equality delete applies to it
    # (delete seq > file seq); such files get rewritten even as singletons,
    # so the rewrite materializes the deletes and the delete files die
    max_del_seq = max(
        (e.seq for e in entries if e.content != DATA), default=-1
    )
    per_part: dict[str, list[FileEntry]] = {}
    burdened: set[str] = set()
    for e in entries:
        if e.content != DATA:
            continue
        is_burdened = e.seq < max_del_seq
        if e.file_size_bytes <= small_cut or is_burdened:
            per_part.setdefault(json.dumps(e.partition, sort_keys=True), []).append(e)
            if is_burdened:
                burdened.add(e.file_path)

    bins: list[Bin] = []
    for pj, files in sorted(per_part.items()):
        files.sort(key=lambda f: (-f.file_size_bytes, f.file_path))
        open_bins: list[Bin] = []
        for f in files:
            placed = False
            for b in open_bins:
                if b.total_bytes + f.file_size_bytes <= target_bytes:
                    b.files.append(f)
                    placed = True
                    break
            if not placed:
                open_bins.append(Bin(pj, [f]))
        bins.extend(
            b for b in open_bins
            if len(b.files) >= min_files_per_bin
            or any(f.file_path in burdened for f in b.files)
        )
    return bins


def _run_bulk(
    table: Table,
    job_id: str,
    log: MaintenanceLog | None,
    todo: list[Bin],
    target_bytes: int,
    pin_snapshot: int,
    snap_before: int,
    verify: bool = False,
    pinned_delete_paths: set[str] | None = None,
    sort_output: bool = False,
) -> dict:
    """One-job executor: see run_compaction (mode='bulk')."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from olake_spark.icelite.stats import collect_file_stats
    from olake_spark.icelite.table import _parse_partition

    spark = table.spark
    # deterministic execution order: biggest bins first (stable across runs;
    # bin i is written by task i, so the largest bins start first)
    todo = sorted(todo, key=lambda b: -b.total_bytes)
    rel_paths = {f.file_path for b in todo for f in b.files}
    pairs = [
        (table._abs(f.file_path), i)
        for i, b in enumerate(todo)
        for f in b.files
    ]
    mapping = spark.createDataFrame(pairs, ["_input_file", "_bin_"])

    df = table.scan(
        snapshot_id=pin_snapshot, file_filter=rel_paths, with_input_file=True
    )
    # left join + raise_error: a path-representation mismatch between
    # input_file_name() and the planned bin map must FAIL the rewrite, never
    # silently drop rows while the commit still removes their source files
    df = df.join(F.broadcast(mapping), "_input_file", "left").drop("_input_file")
    df = df.withColumn(
        "_bin_",
        F.expr(
            "coalesce(_bin_, CAST(raise_error('compaction: scanned row from a "
            "file missing in the bin map — path normalization drift') AS BIGINT))"
        ),
    )
    if verify:
        # verified rewrite: decode every image in-stream and fail the task on
        # corruption (north star: "correctness verified against decoded
        # pixels" — enforced during maintenance, not after)
        from olake_spark.verify import inline_pixel_check

        df = inline_pixel_check(df)

    total_bytes = sum(b.total_bytes for b in todo)
    total_rows = sum(b.total_rows for b in todo)
    avg_row = max(1, total_bytes // max(1, total_rows))
    per_file = max(1, target_bytes // avg_row)

    spec = table.spec
    # one task per bin: the bin id IS the shuffle partition id, so two bins
    # never collide in one straggler task as they can under a hash shuffle
    out = spec.apply(df).repartitionById(len(todo), F.col("_bin_").cast("int"))
    if sort_output and table.sort_order:
        # 'sort' strategy: compacted files keep the declared table sort
        # order; leading with the write's partition columns keeps the
        # parquet writer on its no-resort path (same contract as
        # _stage_write). Within-file order does not affect file-level
        # min/max, so clustered layouts keep their pruning power either way.
        out = out.sortWithinPartitions("_bin_", *spec.names, *table.sort_order)
    seq = table.meta["last_sequence_number"] + 1
    stage = os.path.join(table.root, "data", f".bulk-{uuid.uuid4().hex}")
    codec = table.meta["properties"].get(
        "write.parquet.compression-codec", "snappy"
    )
    try:
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", per_file)
            .option("compression", codec)
            .partitionBy("_bin_", *spec.names)
            .parquet(stage)
        )
    except Exception:
        table.io.rmtree(stage)
        raise

    # promote: <stage>/_bin_=k/<partition dirs>/file → data/<partition>/file
    # — planned on the driver, published with ONE bulk FileIO call
    moved: list[tuple[int, str, str, dict]] = []  # (bin, abs, rel, partition)
    pairs: list[tuple[str, str]] = []
    dest_dirs: set[str] = set()
    for src in table.io.walk_files(stage):
        name = os.path.basename(src)
        if not name.endswith(".parquet"):
            continue
        rel_dir = os.path.relpath(os.path.dirname(src), stage)
        comps = [] if rel_dir == "." else rel_dir.split(os.sep)
        if not comps or not comps[0].startswith("_bin_="):
            continue
        bin_idx = int(comps[0].split("=", 1)[1])
        partition = _parse_partition(os.path.join(*comps[1:]) if comps[1:] else ".")
        dest_dir = (
            os.path.join(table.root, "data", *comps[1:])
            if comps[1:]
            else os.path.join(table.root, "data")
        )
        dest_dirs.add(dest_dir)
        dest = os.path.join(dest_dir, f"{seq:06d}-{uuid.uuid4().hex}.parquet")
        pairs.append((src, dest))
        moved.append((bin_idx, dest, os.path.relpath(dest, table.root), partition))
    for d in sorted(dest_dirs):
        table.io.makedirs(d)
    table._promote(pairs, stage)
    table.io.rmtree(stage)

    stats = collect_file_stats(spark, [m[1] for m in moved])
    per_bin: dict[int, list[FileEntry]] = {}
    empties: list[str] = []
    for bin_idx, abspath, rel, partition in moved:
        st = stats[abspath]
        if st["record_count"] == 0:
            empties.append(abspath)
            continue
        per_bin.setdefault(bin_idx, []).append(
            FileEntry(
                DATA, rel, partition, seq,
                st["record_count"], st["file_size_bytes"],
                st["mins"], st["maxs"], st["null_counts"],
            )
        )
    if empties:
        table.io.remove_many(empties)

    # commit in groups: one snapshot swaps a group of bins atomically, one
    # batched log append records their lineage. Resume granularity stays
    # bin-level (done chunk ids); an interrupted group redoes as a unit.
    GROUP = 16
    executed = 0
    rows_out = bytes_out = 0
    for g in range(0, len(todo), GROUP):
        group = list(enumerate(todo))[g : g + GROUP]
        removed = {f.file_path for _, b in group for f in b.files}
        added = [e for i, _ in group for e in per_bin.get(i, [])]
        try:
            snap = table.rewrite_files(
                removed, added, op="compact",
                extra_summary={
                    "job_id": job_id,
                    "chunk_ids": [b.chunk_id for _, b in group],
                },
                seq_used=seq,
                known_delete_paths=pinned_delete_paths,
            )
        except CommitConflict as ce:
            # earlier groups are committed (and logged); this group and every
            # later one are not. Delete their already-written output files so
            # the abort leaves zero orphans (ONE batched FileIO call, same
            # O(1)-driver-calls contract as the promote), then propagate —
            # run_compaction re-plans from fresh metadata and redoes the
            # remaining bins. The committed groups' counts ride on the
            # exception so the caller's summary stays accurate.
            victims = [
                table._abs(e.file_path)
                for i in range(g, len(todo))
                for e in per_bin.get(i, [])
            ]
            try:
                table.io.remove_many(victims)
            except OSError:
                pass  # best effort; the reaper collects stragglers
            ce.partial = (executed, rows_out, bytes_out)
            raise
        executed += len(group)
        rows_out += sum(e.record_count for e in added)
        bytes_out += sum(e.file_size_bytes for e in added)
        if log is not None:
            log.log_done_many(
                job_id, "compact",
                [
                    {"chunk_id": b.chunk_id, "partition": b.partition_json,
                     "rows": b.total_rows, "bytes_in": b.total_bytes,
                     "bytes_out": sum(
                         e.file_size_bytes for e in per_bin.get(i, [])
                     ),
                     "snapshot_before": snap_before,
                     "snapshot_after": snap.get("snapshot_id")}
                    for i, b in group
                ],
            )
    return {
        "bins_planned": len(todo),
        "bins_executed": executed,
        "rows_rewritten": rows_out,
        "bytes_out": bytes_out,
        "mode": "bulk",
    }


def run_compaction(
    table: Table,
    job_id: str,
    log: MaintenanceLog | None = None,
    target_bytes: int | None = None,
    fill_ratio: float = 0.5,
    max_bins: int | None = None,
    stop_after_bins: int | None = None,
    max_concurrency: int | None = None,
    mode: str = "bulk",  # or "bins"
    verify: bool = False,
    sort: bool | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
) -> dict:
    """Execute a compaction job. Returns summary metrics.

    `predicates` ((col, op, literal) conjunction, the scan's vocabulary)
    scopes the job to files that may hold matching rows — Iceberg's
    RewriteDataFiles `filter`. File-level: candidate files are rewritten
    whole; files outside the scope are untouched, byte for byte.

    `sort`: binpack-vs-sort strategy, exactly Iceberg's RewriteDataFiles
    split — the DEFAULT is binpack (coalesce only; re-sorting every fat
    image row through the shuffle sorter costs ~20-40% of rewrite wall and
    Iceberg's default strategy skips it too), so compaction does NOT
    maintain the declared table sort order unless asked: pass sort=True or
    set table property `compaction.sort-order=true`. Appends/backfills
    always honor the declared order (O3); only the rewrite strategy is a
    choice.

    Two executors:

    - **bulk** (default): ONE Spark job rewrites every bin — rows are tagged
      with their bin via `input_file_name()` + a broadcast file→bin map,
      shuffled once with the bin id as the task id (`repartitionById`: one
      task per bin), and written `partitionBy(_bin_, …)`.
      Commits stay per-bin (atomic, resumable). At any cluster size the whole
      compaction is a single shuffle of the small-file debt; driver overhead
      is O(1) jobs instead of O(bins) — the Amdahl fix that lets compaction
      actually scale with executors.
    - **bins**: thread-per-bin (the reference's chunk-pool shape,
      constants/constants.go:7): each bin is a shuffle-free
      scan→coalesce(1)→write job; up to `max_concurrency` in flight. Used
      for `stop_after_bins` resume tests and when incremental progress
      matters more than wall-clock.

    `stop_after_bins` exists for resume tests: simulate an interruption after
    k committed bins.
    """
    table.refresh()
    if sort is None:
        sort = (
            str(table.meta["properties"].get("compaction.sort-order", "false"))
            .lower() == "true"
        )
    if target_bytes is None:
        target_bytes = int(
            table.meta["properties"].get("write.target-file-size-bytes", DEFAULT_TARGET)
        )
    if max_concurrency is None:
        # single-file bins run as one task each — keep enough bins in flight
        # to cover the cluster (thread-per-chunk, scaled to cores instead of
        # the reference's fixed 3, constants/constants.go:7)
        max_concurrency = min(64, table.spark.sparkContext.defaultParallelism)
    snap_before = table.current_snapshot_id
    bins = plan_compaction(table, target_bytes, fill_ratio, predicates=predicates)
    if max_bins:
        bins = bins[:max_bins]

    done: set[str] = set()
    if log is not None:
        done = log.done_chunk_ids(job_id)
        log.log_planned(
            job_id, "compact",
            [{"chunk_id": b.chunk_id, "partition": b.partition_json,
              "rows": b.total_rows, "bytes_in": b.total_bytes} for b in bins
             if b.chunk_id not in done],
        )

    pin_snapshot = table.current_snapshot_id
    # validateNoNewDeleteFiles guard: rewrites re-seq their rows, so a delete
    # that commits between this pin and our commit would silently miss them —
    # the commit must conflict instead (ADVICE round 1; Iceberg's
    # RewriteFiles.validateNoNewDeleteFiles semantics)
    pinned_dels = {
        e.file_path
        for e in table.entries(pin_snapshot)
        if e.content != DATA
    }
    skipped = sum(1 for b in bins if b.chunk_id in done)
    todo = [b for b in bins if b.chunk_id not in done]
    if stop_after_bins is not None:
        todo = todo[:stop_after_bins]

    if mode == "bulk" and len(todo) > 1 and stop_after_bins is None:
        # a concurrent equality-delete commit can CommitConflict the per-group
        # commit loop midway: committed groups stand, _run_bulk has already
        # deleted the uncommitted groups' outputs, and we re-plan the rest
        # from fresh metadata (which now includes the conflicting deletes, so
        # the redone bins read the post-delete row state)
        executed_total = rows_total = bytes_total = 0
        for attempt in range(3):
            try:
                res = _run_bulk(
                    table, job_id, log, todo, target_bytes, pin_snapshot,
                    snap_before, verify=verify,
                    pinned_delete_paths=pinned_dels, sort_output=sort,
                )
            except CommitConflict as ce:
                p = getattr(ce, "partial", (0, 0, 0))
                executed_total += p[0]
                rows_total += p[1]
                bytes_total += p[2]
                if attempt == 2:
                    raise
                table.refresh()
                # re-plan against the post-conflict state: fresh pin + delete
                # set, the caller's max_bins cap re-applied, lineage log
                # re-primed (planned rows + the snapshot the redo reads)
                pin_snapshot = table.current_snapshot_id
                snap_before = pin_snapshot
                pinned_dels = {
                    e.file_path
                    for e in table.entries(pin_snapshot)
                    if e.content != DATA
                }
                bins = plan_compaction(
                    table, target_bytes, fill_ratio, predicates=predicates
                )
                if max_bins:
                    bins = bins[:max_bins]
                done = log.done_chunk_ids(job_id) if log is not None else set()
                todo = [b for b in bins if b.chunk_id not in done]
                if log is not None and todo:
                    log.log_planned(
                        job_id, "compact",
                        [{"chunk_id": b.chunk_id, "partition": b.partition_json,
                          "rows": b.total_rows, "bytes_in": b.total_bytes}
                         for b in todo],
                    )
                if not todo:
                    res = {"bins_planned": 0, "bins_executed": 0,
                           "rows_rewritten": 0, "bytes_out": 0, "mode": "bulk"}
                    break
                continue
            break
        executed_total += res["bins_executed"]
        rows_total += res["rows_rewritten"]
        bytes_total += res["bytes_out"]
        res.update(
            bins_executed=executed_total, rows_rewritten=rows_total,
            bytes_out=bytes_total, bins_skipped=skipped,
        )
        res["delete_files_purged"] = (
            purge_dead_deletes(table) if res["bins_executed"] else 0
        )
        return res

    def exec_bin(b: Bin) -> tuple[int, int]:
        paths = {f.file_path for f in b.files}
        df = table.scan(snapshot_id=pin_snapshot, file_filter=paths)
        if verify:
            from olake_spark.verify import inline_pixel_check

            df = inline_pixel_check(df)
        # rows per output file sized from observed bytes/row of this bin
        avg_row = max(1, b.total_bytes // max(1, b.total_rows))
        per_file = max(1, target_bytes // avg_row)
        n_out = max(1, math.ceil(b.total_bytes / target_bytes))
        # a bin is ≤ target by construction → one output file, and coalesce
        # merges the input splits without a shuffle (bin-level parallelism
        # comes from running bins concurrently, like the reference's
        # thread-per-chunk writers, destination/writers.go:50-89)
        out = df.coalesce(1) if n_out == 1 else df.repartition(n_out)
        seq = table.meta["last_sequence_number"] + 1
        added = table._stage_write(
            out, seq, max_records_per_file=per_file,
            sort_within_by=None if sort else [],  # binpack: no re-sort
        )
        snap = table.rewrite_files(
            paths, added, op="compact",
            extra_summary={"job_id": job_id, "chunk_id": b.chunk_id},
            seq_used=seq,
            known_delete_paths=pinned_dels,
        )
        if log is not None:
            log.log_done(
                job_id, "compact",
                {"chunk_id": b.chunk_id, "partition": b.partition_json,
                 "rows": b.total_rows, "bytes_in": b.total_bytes,
                 "bytes_out": sum(e.file_size_bytes for e in added),
                 "snapshot_before": snap_before,
                 "snapshot_after": snap.get("snapshot_id")},
            )
        return (
            sum(e.record_count for e in added),
            sum(e.file_size_bytes for e in added),
        )

    executed = 0
    rows_out = bytes_out = 0
    if todo:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(max_concurrency, len(todo))) as ex:
            for r, by in ex.map(exec_bin, todo):
                executed += 1
                rows_out += r
                bytes_out += by
    purged = purge_dead_deletes(table) if executed else 0
    return {
        "bins_planned": len(bins),
        "bins_executed": executed,
        "bins_skipped": skipped,
        "rows_rewritten": rows_out,
        "bytes_out": bytes_out,
        "delete_files_purged": purged,
    }
