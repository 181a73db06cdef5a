"""Snapshot expiry + orphan-file reaping (north_star: "snapshot expiry with
orphan-file reaping").

The reference leans on Iceberg's retention procedures; here the semantics are
re-implemented over icelite metadata (SURVEY.md §7 step 6):

- `expire_snapshots`: drop snapshot entries older than the retention window
  (always keeping the current snapshot and the newest `keep_last`). Metadata
  only — instant, atomic.
- `remove_orphan_files`: diff the physical listing under data/ deletes/
  metadata/manifests/ against the union of files referenced by RETAINED
  snapshots (every manifest of every retained snapshot is read: their
  number and size, not how entries are split among them, is what the
  reap pays); delete unreferenced files older than `grace_seconds` (files
  inside the grace window may belong to an in-flight, not-yet-committed
  write — never touch them). The grace check reads the mtime each listing
  entry carries, so the reap issues no per-file request; a write-job
  directory the reap empties goes too (data/, deletes/ and
  metadata/manifests/ themselves always stay).
- `remove_superseded_metadata`: right after the orphan reap, delete every
  `vN.metadata.json` whose next version was written before the same grace
  cutoff (one listing of metadata/'s direct children, one batched delete).
  The current version, v00001 (`Table.create`'s existence check) and
  version-hint.text always stay, so the table's metadata/ holds two
  versions after an expiry at grace 0 instead of one per commit ever made.

`run_expire` returns `snapshots_expired`, `orphans_removed` (0 on a dry
run), `orphans_found` and `metadata_versions_removed` (0 on a dry run).

Given a maintenance `log`, it expires the log table too: every snapshot but
the newest (the log only appends, so the newest lists every manifest ever
added and no row is lost), then the log's superseded metadata versions
under the same grace. Without this, each logged chunk left one metadata
version re-serializing every earlier snapshot.

At deployment scale the physical listing is a distributed object-store list
job; the reconciliation is the same set difference.
"""

from __future__ import annotations

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite.table import Table


def run_expire(
    table: Table,
    keep_last: int | None = None,  # None → table retention properties
    older_than_ms: int | None = None,
    grace_seconds: float = 0.0,
    reap_orphans: bool = True,
    dry_run: bool = False,
    job_id: str | None = None,
    log: MaintenanceLog | None = None,
) -> dict:
    """Expire snapshots, then reap orphan files and superseded metadata
    versions older than `grace_seconds`.

    The default grace of 0 requires that no other writer commits to the
    table, nor to `log` when one is given, while this runs: a writer that
    refreshed before the reap can re-create a reaped version number, and
    its commit is then silently lost behind the newer versions (a catalog
    whose commit checks `version == current + 1` refuses it instead), and a
    writer's staged, not yet committed files are orphans to the reap."""
    expired = table.expire_snapshots(keep_last=keep_last, older_than_ms=older_than_ms)
    orphans: list[str] = []
    versions: list[str] = []
    if reap_orphans:
        orphans = table.remove_orphan_files(grace_seconds=grace_seconds, dry_run=dry_run)
        versions = table.remove_superseded_metadata(
            grace_seconds=grace_seconds, dry_run=dry_run
        )
    out = {
        "snapshots_expired": expired["expired"],
        "orphans_removed": 0 if dry_run else len(orphans),
        "orphans_found": len(orphans),
        "metadata_versions_removed": 0 if dry_run else len(versions),
    }
    if log is not None and job_id is not None:
        log.log_done(
            job_id,
            "expire",
            {
                "chunk_id": f"expire-{table.current_snapshot_id}",
                "rows": out["snapshots_expired"],
                "bytes_out": out["orphans_removed"],
                "snapshot_after": table.current_snapshot_id,
            },
        )
    if log is not None:
        log.table.expire_snapshots(keep_last=1)
        if reap_orphans:
            log.table.remove_superseded_metadata(
                grace_seconds=grace_seconds, dry_run=dry_run
            )
    return out
