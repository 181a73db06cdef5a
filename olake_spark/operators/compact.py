"""Bin-packing small-file compaction (north_star: "size-tiered file grouping").

The reference targets 512MB data files (IcebergTableWriterFactory.java:41-43;
Go side plans ~512MB parquet, constants/constants.go:21-22) but streaming CDC
ingest inevitably leaves small files. This operator:

1. **plans from metadata only** — the manifest `files` listing; the heavy
   `bytes` column is never read during planning;
2. groups undersized files (size < fill_ratio × target) per partition with
   first-fit-decreasing into bins summing to ≈ target;
3. rewrites every pending bin in ONE Spark job: scan exactly the planned
   files (equality deletes applied → rewrite also *purges* deletes), one
   shuffle task per bin, ≈target-sized output files written through
   `Table._stage_write`; then swaps bins in atomic rewrite snapshots,
   COMMIT_GROUP bins per snapshot, the last of which also drops the delete
   files the run's result leaves dead (no separate purge snapshot);
4. logs per-chunk lineage to the maintenance log, and resumes from the
   table's own commits (the analogue of state.RemoveChunk,
   types/state.go:187-230): a committed bin cannot re-plan, because its
   input files have left the table, and while the job's newest commit says
   bins are left, the re-plan keeps the job's own output out, so a resumed
   run executes only the remaining bins.

Each task holds one bin — at 10^12-image scale no task ever holds more than
~target bytes of encoded pixels.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass, field

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite.table import (COMMIT_GROUP, DATA, EQ_DELETES,
                                       POS_DELETES, CommitConflict, FileEntry,
                                       Table)


def dead_deletes(table: Table, entries: list[FileEntry]) -> list[FileEntry]:
    """The delete files among `entries` (one table state's live entries)
    that no longer apply to any of its data files.

    Equality deletes: a delete at sequence d kills rows only in data files
    with seq < d; once compaction has rewritten every older file (rewrites
    get fresh, higher seqs), the delete is dead weight — removing it takes
    the reconciliation join out of every future scan.

    Positional deletes: dead once none of the exact data file paths they
    reference are live (rewrites mint new uuid paths). The per-file
    [min,max] file_path stats decide most cases without a read; only
    range-overlapping candidates get their referenced-path set read (small
    files, dictionary-encoded path column)."""
    import bisect

    import pyarrow.parquet as _pq

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
    return dead


def purge_dead_deletes(table: Table) -> int:
    """Drop the current snapshot's `dead_deletes` in one metadata-only
    commit. Compaction, clustering and position-delete consolidation drop
    the deletes their own result kills in their rewrite commit; this
    stand-alone action is for debt any other path left behind."""
    table.refresh()
    dead = dead_deletes(table, table.entries())
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
    Commit removes the old delete files atomically, together with the
    equality deletes no live data file is older than (`dead_deletes`); a
    concurrent compaction that folded/purged any of them surfaces as
    CommitConflict (removal-set validation) and the whole op re-plans from
    fresh metadata. Concurrent NEW delete commits are untouched and stay
    live — no guard needed. With nothing to consolidate, the dead deletes
    go in a `purge_dead_deletes` commit instead; `dead_deletes_purged`
    counts them either way."""
    import pandas as pd
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
                "dead_deletes_purged": purge_dead_deletes(table),
            }
        marks = table.spark.read.parquet(
            *[table._abs(e.file_path) for e in pos]
        )
        live_df = F.broadcast(
            table.spark.createDataFrame(
                pd.DataFrame({"file_path": live}), "file_path string"
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
        # the consolidated files mark rows of live data files only, so the
        # result's dead deletes are equality deletes
        dead = {
            e.file_path for e in dead_deletes(
                table, [e for e in entries if e.content != POS_DELETES]
            )
        }
        try:
            table.rewrite_files(
                {e.file_path for e in pos} | dead, added,
                op="rewrite-deletes", seq_used=seq,
                extra_summary={
                    "rewritten-delete-files": len(pos),
                    "dropped-marks": old_rows - kept_rows,
                    **({"purged-delete-files": len(dead)} if dead else {}),
                },
            )
            return {
                "rewritten_files": len(pos), "added_files": len(added),
                "old_marks": old_rows, "kept_marks": kept_rows,
                "dead_deletes_purged": len(dead),
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
    exclude: set[str] | frozenset[str] = frozenset(),
) -> list[Bin]:
    """Size-tiered first-fit-decreasing bin packing per partition.

    `predicates` scopes the plan (Iceberg RewriteDataFiles `filter`): only
    files whose min/max stats MAY contain a matching row become candidates —
    whole files, never row subsets, exactly Iceberg's file-level semantics.
    At deployment scale this is what keeps nightly maintenance bounded: the
    10^12-row table compacts yesterday's partitions, not its whole history.

    `exclude` names data files that are never candidates (a resumed job's
    own committed output). Files are packed one by one in a fixed order, so
    on an otherwise unchanged table, leaving out whole bins' files yields
    the other bins of the same plan.
    """
    if target_bytes is None:
        target_bytes = table.target_file_size
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
        if e.content != DATA or e.file_path in exclude:
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


# what _run_bulk counts, summed over run_compaction's attempts
_TOTALS = ("bins_executed", "rows_rewritten", "bytes_out", "delete_files_purged")


def _run_bulk(
    table: Table,
    job_id: str,
    log: MaintenanceLog | None,
    todo: list[Bin],
    target_bytes: int,
    pin_snapshot: int,
    verify: bool,
    pinned_delete_paths: set[str],
    sort_output: bool,
) -> dict:
    """Rewrite `todo` in ONE Spark job, then commit it COMMIT_GROUP bins per
    snapshot; the last commit also drops the delete files the run's result
    leaves dead. Returns the executed bin, row, byte and purged-delete
    counts (`_TOTALS`)."""
    import pandas as pd
    from pyspark.sql import functions as F

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
    # built through Arrow from pandas (a LocalTableScan): a Python-list
    # createDataFrame plans as Scan ExistingRDD and runs a Python-worker job
    # when the broadcast materializes
    mapping = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["_input_file", "_bin_"]),
        "_input_file string, _bin_ bigint",
    )

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

    # one task per bin: the bin id IS the shuffle partition id, so two bins
    # never collide in one straggler task as they can under a hash shuffle
    out = df.repartitionById(len(todo), F.col("_bin_").cast("int"))
    seq = table.meta["last_sequence_number"] + 1
    # binpack ([]): no re-sort; 'sort' strategy (None): the declared table
    # sort order. Within-file order does not affect file-level min/max, so
    # clustered layouts keep their pruning power either way.
    per_bin = table._stage_write(
        out, seq, max_records_per_file=per_file,
        sort_within_by=None if sort_output else [], group_col="_bin_",
    )

    # the delete files the whole run leaves dead: judged on the pinned
    # entries less every planned input plus every bin's output, and dropped
    # by the last group's commit. Should a delete land or go in between,
    # that commit conflicts (known_delete_paths guard, removal validation).
    dead = {
        e.file_path for e in dead_deletes(
            table,
            [e for e in table.entries(pin_snapshot) if e.file_path not in rel_paths]
            + [e for out in per_bin.values() for e in out],
        )
    }

    # commit in groups: one snapshot swaps a group of bins atomically, one
    # batched log append records their lineage. A commit that leaves bins
    # of this run uncommitted says how many (`bins-left`), so a resume knows
    # to keep this run's output out of its re-plan (`_resume_exclude`); an
    # interrupted group redoes as a unit.
    done = dict.fromkeys(_TOTALS, 0)
    for g in range(0, len(todo), COMMIT_GROUP):
        group = list(enumerate(todo))[g : g + COMMIT_GROUP]
        removed = {f.file_path for _, b in group for f in b.files}
        added = [e for i, _ in group for e in per_bin.get(i, [])]
        left = len(todo) - g - len(group)
        summary = {"job_id": job_id, "chunk_ids": [b.chunk_id for _, b in group]}
        if left:
            summary["bins-left"] = left
        elif dead:
            removed |= dead
            summary["purged-delete-files"] = len(dead)
        committed = False
        try:
            snap = table.rewrite_files(
                removed, added, op="compact", extra_summary=summary,
                seq_used=seq, known_delete_paths=pinned_delete_paths,
            )
            committed = True
            done["bins_executed"] += len(group)
            done["rows_rewritten"] += sum(e.record_count for e in added)
            done["bytes_out"] += sum(e.file_size_bytes for e in added)
            if not left:
                done["delete_files_purged"] = len(dead)
            if log is not None:
                log.log_done_many(
                    job_id, "compact",
                    [
                        {"chunk_id": b.chunk_id, "partition": b.partition_json,
                         "rows": b.total_rows, "bytes_in": b.total_bytes,
                         "bytes_out": sum(
                             e.file_size_bytes for e in per_bin.get(i, [])
                         ),
                         "snapshot_before": pin_snapshot,
                         "snapshot_after": snap.get("snapshot_id")}
                        for i, b in group
                    ],
                )
        except BaseException as exc:
            # earlier groups are committed; every later group is not. This
            # group is uncommitted only if its own commit raised
            # CommitConflict: once rewrite_files returned, the table
            # references its output (the maintenance log is a table too, so
            # a failed log append can raise CommitConflict as well), and any
            # other failure inside rewrite_files may have landed the commit,
            # so its output stays for the reaper if it is unreferenced.
            # Delete the surely-uncommitted output (ONE batched FileIO call)
            # and propagate — a rerun or run_compaction's re-plan redoes those
            # bins from fresh metadata; the committed groups' counts ride on a
            # conflict so the caller's summary stays accurate.
            conflict = isinstance(exc, CommitConflict)
            first = g if conflict and not committed else g + len(group)
            victims = [
                table._abs(e.file_path)
                for i in range(first, len(todo))
                for e in per_bin.get(i, [])
            ]
            try:
                table.io.remove_many(victims)
            except OSError:
                pass  # best effort; the reaper collects stragglers
            if conflict:
                exc.partial = done
            raise
    return done


def _resume_exclude(table: Table, job_id: str) -> set[str]:
    """The live output of the job's trailing `compact` snapshots that
    record `bins-left`: the run a kill or conflict stopped midway (and its
    stopped resumes), kept out of the resume's plan, where at a high fill
    ratio it would be packed again with its partition's leftovers. Empty
    once the job's newest `compact` snapshot has no `bins-left`."""
    seqs = set()  # a run stamps every group's output with one seq
    for s in reversed(table.snapshots()):
        if s.get("operation") != "compact" or s["summary"].get("job_id") != job_id:
            continue
        if not s["summary"].get("bins-left"):
            break
        seqs.add(s["sequence_number"])
    return {
        e.file_path for e in table.entries()
        if e.content == DATA and e.seq in seqs
    } if seqs else set()


def run_compaction(
    table: Table,
    job_id: str,
    log: MaintenanceLog | None = None,
    target_bytes: int | None = None,
    fill_ratio: float = 0.5,
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
    split — the DEFAULT is binpack (merge, no re-sort; re-sorting every fat
    image row through the shuffle sorter costs ~20-40% of rewrite wall and
    Iceberg's default strategy skips it too), so compaction does NOT
    maintain the declared table sort order unless asked: pass sort=True or
    set table property `compaction.sort-order=true`. Appends/backfills
    always honor the declared order (O3); only the rewrite strategy is a
    choice.

    Execution: ONE Spark job rewrites every pending bin — rows are tagged
    with their bin via `input_file_name()` + a broadcast file→bin map,
    shuffled once with the bin id as the task id (`repartitionById`: one
    task per bin), and written by `Table._stage_write` grouped by bin.
    Commits go COMMIT_GROUP bins per snapshot (atomic, resumable per bin).
    Driver overhead is O(1) jobs instead of O(bins), so compaction scales
    with executors; a one-bin plan pays one shuffle of at most `target`
    bytes.

    Resumable by `job_id` alone, with or without `log`: a rerun after a kill
    plans only the bins the killed run left (`_resume_exclude`); when none
    of them is left, it plans from scratch.
    `bins_planned` counts the bins of the (last) plan; `delete_files_purged`
    the dead delete files the run's last commit dropped.
    """
    table.refresh()
    if sort is None:
        sort = (
            str(table.meta["properties"].get("compaction.sort-order", "false"))
            .lower() == "true"
        )
    if target_bytes is None:
        target_bytes = table.target_file_size

    # a concurrent equality-delete commit can CommitConflict the per-group
    # commit loop midway: committed groups stand, _run_bulk has already
    # deleted the uncommitted groups' outputs, and we re-plan the rest from
    # fresh metadata (which now includes the conflicting deletes, so the
    # redone bins read the post-delete row state)
    done = dict.fromkeys(_TOTALS, 0)
    for attempt in range(3):
        # the snapshot the rewrite reads; validateNoNewDeleteFiles guard:
        # rewrites re-seq their rows, so a delete that commits between this
        # pin and our commit would silently miss them — the commit must
        # conflict instead (ADVICE round 1; Iceberg's
        # RewriteFiles.validateNoNewDeleteFiles semantics)
        pin_snapshot = table.current_snapshot_id
        exclude = _resume_exclude(table, job_id)
        bins = plan_compaction(
            table, target_bytes, fill_ratio, predicates=predicates, exclude=exclude
        )
        if not bins and exclude:
            # the stopped run has no bins left: this run starts afresh
            bins = plan_compaction(table, target_bytes, fill_ratio, predicates=predicates)
        if not bins:
            break
        if log is not None:
            log.log_planned(
                job_id, "compact",
                [{"chunk_id": b.chunk_id, "partition": b.partition_json,
                  "rows": b.total_rows, "bytes_in": b.total_bytes}
                 for b in bins],
            )
        pinned_dels = {
            e.file_path
            for e in table.entries(pin_snapshot)
            if e.content != DATA
        }
        try:
            res = _run_bulk(
                table, job_id, log, bins, target_bytes, pin_snapshot,
                verify, pinned_dels, sort,
            )
        except CommitConflict as ce:
            for k, v in getattr(ce, "partial", {}).items():
                done[k] += v
            if attempt == 2:
                raise
            table.refresh()
            continue
        for k, v in res.items():
            done[k] += v
        break
    return {"bins_planned": len(bins), **done}
