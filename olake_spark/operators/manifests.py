"""Manifest rewrite with per-file min/max column stats (north_star:
"manifest rewrite with per-file min/max column stats").

The reference gets per-file stats for free from Iceberg's
GenericAppenderFactory metrics config (IcebergUtil.java:234-253) and never
reorganizes manifests. Every reader (`Table.entries`) loads every manifest
of a snapshot and prunes on the parsed per-file entries, so what a plan
pays for is the number and size of manifests, not how entries are split
among them. This operator:

1. packs the current snapshot's live entries into
   `ceil(entries / target_entries)` manifests, whatever the partitions,
   ordered by (partition, content, min phash, path) — each partition stays
   one contiguous run inside and across manifests, and phash-range runs
   stay clustered. A per-partition split would only multiply files: with
   no partition summary in the manifest list, no reader could skip one;
2. optionally **audits** stats by re-harvesting them (parquet footers, and
   the integral columns behind the `ranges` summaries) and comparing
   against manifest values — the verification demanded by SURVEY.md §7
   step 7. A manifest key the entry lacks (a summary from before the
   `ranges` column, a writer that harvests none) is not checked;
3. commits a metadata-only snapshot: identical file set, new manifest list
   (readers pinned to the old snapshot are untouched).
"""

from __future__ import annotations

import json

from olake_spark.icelite.stats import collect_file_stats, unpack_ranges
from olake_spark.icelite.table import DATA, FileEntry, Table, _read_manifest


def _group_entries(
    entries: list[FileEntry], target_entries: int
) -> list[list[FileEntry]]:
    def sort_key(e: FileEntry):
        ph = e.mins.get("phash")
        return (
            json.dumps(e.partition, sort_keys=True),
            e.content,
            ph if isinstance(ph, int) else 0,
            e.file_path,
        )

    ordered = sorted(entries, key=sort_key)
    return [
        ordered[i : i + target_entries]
        for i in range(0, len(ordered), target_entries)
    ]


def rewrite_manifests(
    table: Table, target_entries: int = 1000, audit: bool = False
) -> dict:
    table.refresh()
    entries = table.entries()
    if not entries:
        return {"manifests_before": 0, "manifests_after": 0, "entries": 0}

    audited = 0
    if audit:
        # distributed audit: ONE footer-stats harvest over every data file
        # (driver thread pool below 512 files, executor RDD above — see
        # collect_file_stats) instead of a serial per-file driver loop
        data_entries = [e for e in entries if e.content == DATA]
        stats = collect_file_stats(
            table.spark, [table._abs(e.file_path) for e in data_entries],
            ranges=True,
        )
        for e in data_entries:
            st = stats[table._abs(e.file_path)]
            if st["record_count"] != e.record_count:
                raise AssertionError(
                    f"manifest stats drift for {e.file_path}: "
                    f"rows {e.record_count} != footer {st['record_count']}"
                )
            for col, lo in st["mins"].items():
                if col in e.mins and json.dumps(e.mins[col], default=str) != json.dumps(
                    lo, default=str
                ):
                    raise AssertionError(
                        f"min({col}) drift for {e.file_path}: {e.mins[col]} != {lo}"
                    )
            for col, packed in e.ranges.items():
                if st["ranges"].get(col) != packed:
                    raise AssertionError(
                        f"ranges({col}) drift for {e.file_path}: "
                        f"{unpack_ranges(packed)} != "
                        f"{unpack_ranges(st['ranges'].get(col, b''))}"
                    )
            audited += 1

    # entries/groups are re-derived INSIDE build() from each attempt's fresh
    # base: on a conflict retry, a concurrent commit's file set must be
    # regrouped, not reverted to this function's planning-time view (the
    # rebuild-from-fresh-base contract _commit_snapshot already follows)
    out: dict = {}

    def build(meta: dict) -> dict:
        cur = next(
            (
                s
                for s in meta["snapshots"]
                if s["snapshot_id"] == meta["current_snapshot_id"]
            ),
            None,
        )
        cur_manifests = list(cur["manifests"]) if cur else []
        fresh: list[FileEntry] = []
        for m in cur_manifests:
            fresh.extend(_read_manifest(table._abs(m)))
        groups = _group_entries(fresh, target_entries)
        new_manifests = [table._new_manifest(g) for g in groups]
        snap_id = meta["last_snapshot_id"] + 1
        out.update(
            manifests_before=len(cur_manifests),
            manifests_after=len(new_manifests),
            entries=len(fresh),
        )
        new = dict(meta)
        new["last_snapshot_id"] = snap_id
        new["current_snapshot_id"] = snap_id
        new["snapshots"] = meta["snapshots"] + [
            table._snapshot_dict(
                meta,
                snap_id,
                meta["last_sequence_number"],
                "rewrite-manifests",
                new_manifests,
                {
                    "manifests-before": len(cur_manifests),
                    "manifests-after": len(new_manifests),
                    "entries": len(fresh),
                },
            )
        ]
        return new

    table._commit(build)
    return {**out, "audited": audited}
