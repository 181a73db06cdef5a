"""Maintenance autopilot: inspect → decide → run.

The `maintain` verb runs the operation list the caller names; real
lakehouse fleets don't want to name one — they want a nightly job that
looks at each table and does only what that table needs (the managed
"table maintenance" layer every Iceberg vendor sells, and the ops half
of the reference's post-ingest guarantees: the reference leans on
Iceberg's maintenance procedures being run for it, `SURVEY.md §2` S15/
S16). This module is that decision layer over the operators that
already exist:

- ``inspect_health(table)`` — every health signal the policy needs,
  computed from manifest/metadata state the driver already holds:
  ZERO Spark jobs (pin: `tests/test_autopilot.py`). At 10^12-image
  scale the decision must never cost a table scan — small-file debt,
  delete debt, manifest sprawl, snapshot backlog and clustering drift
  are all facts the metadata states exactly.
- ``plan_maintenance(table, policy)`` — pure function of health ×
  thresholds → ordered action list, each with the reason (the numbers
  that crossed the line) attached. Policy keys resolve DEFAULTS ←
  table properties (``autopilot.<key>``) ← the call's ``policy`` dict,
  so a per-table policy lives in the table like Iceberg's own
  ``history.expire.*`` retention knobs.
- ``run_autopilot(table, job_id, ...)`` — executes the plan in
  dependency order (rewrite-deletes → compact → cluster → manifests →
  expire: consolidate delete debt before the rewrites that fold it in,
  rewrite data before rebuilding manifests over it, expire last so the
  rewrites' orphans age out under the same grace window), each step
  through the existing operator with the shared MaintenanceLog, so
  lineage/metrics/idempotent-resume work exactly as they do when the
  steps are run by hand. A healthy table plans [] and the run commits
  NOTHING (no-op snapshots would churn retention).

Action triggers (defaults follow Iceberg's maintenance conventions):

========================  =============================================
compact                   ≥ ``compact.min-input-files`` live data files
                          smaller than ``compact.fill-ratio`` × target
                          file size (RewriteDataFiles' min-input-files
                          shape), OR any eq-delete debt at/over the
                          delete-ratio line (compaction folds it in).
rewrite-deletes           ≥ ``deletes.min-delete-files`` pos-delete
                          files, or delete records ≥
                          ``deletes.max-delete-ratio-ppm`` of live rows
                          (consolidate + purge dead files).
cluster                   opt-in via ``cluster.curve``; fires when rows
                          in data files sequenced after the last
                          ``cluster`` commit reach
                          ``cluster.max-unclustered-ppm`` of the table.
manifests                 live manifest count > ``manifests.max-count``
                          and > the ceil(live entries /
                          ``manifests.target-entries``) a rewrite
                          packs them into.
bloom                     opt-in via ``bloom.columns``; fires when live
                          rows in data files the registered index does
                          not cover reach ``bloom.max-stale-ppm`` (a
                          missing index reads as 1e6 ppm), or when this
                          run already plans a rewrite (which strands the
                          coverage the moment it commits). Runs after the
                          rewrites, before expire.
expire                    snapshot count > ``expire.max-snapshots``.
========================  =============================================
"""

from __future__ import annotations

import json

from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite.table import DATA, EQ_DELETES, POS_DELETES, Table

__all__ = ["DEFAULT_POLICY", "inspect_health", "plan_maintenance",
           "run_autopilot", "run_fleet"]

PPM = 1_000_000

DEFAULT_POLICY: dict[str, object] = {
    # compaction: Iceberg RewriteDataFiles defaults (min-input-files=5;
    # a file is "small" below fill-ratio × write.target-file-size-bytes)
    "compact.min-input-files": 5,
    "compact.fill-ratio": 0.5,
    # delete debt: rewrite/purge when marks pile up
    "deletes.min-delete-files": 2,
    "deletes.max-delete-ratio-ppm": 50_000,  # 5% of live rows
    # clustering: opt-in (None = never recluster); drift measured as the
    # ppm of rows living in files sequenced after the last cluster commit
    "cluster.curve": None,
    "cluster.key-cols": ("phash", "w", "h"),
    "cluster.max-unclustered-ppm": 300_000,
    # metadata hygiene
    "manifests.max-count": 16,
    "manifests.target-entries": 1000,
    "expire.max-snapshots": 20,
    "expire.keep-last": None,  # None → the table's history.expire.* props
    "expire.grace-seconds": 3 * 24 * 3600.0,
    # per-file Bloom indexes (icelite/bloom.py): opt-in column list; an
    # index covers exactly the data files of the snapshot it was built on,
    # so every rewrite (compact/cluster/rewrite-deletes) strands coverage —
    # rebuild when the ppm of live rows in UNCOVERED files crosses the line
    # (a missing index on a non-empty table reads as 1e6 ppm)
    "bloom.columns": (),
    "bloom.max-stale-ppm": 300_000,
    "bloom.fpp": 0.01,
}

_ORDER = (
    "rewrite-deletes", "compact", "cluster", "manifests", "bloom", "expire"
)


def resolve_policy(table: Table, policy: dict | None = None) -> dict:
    """DEFAULTS ← table properties (``autopilot.<key>``) ← explicit dict."""
    out = dict(DEFAULT_POLICY)
    props = table.meta["properties"]
    for key, dflt in DEFAULT_POLICY.items():
        raw = props.get(f"autopilot.{key}")
        if raw is None:
            continue
        if key in ("cluster.key-cols", "bloom.columns"):
            out[key] = tuple(
                s.strip() for s in str(raw).split(",") if s.strip()
            )
        elif key == "cluster.curve":
            out[key] = str(raw)
        elif isinstance(dflt, float) or key == "expire.grace-seconds":
            out[key] = float(raw)
        else:
            out[key] = int(raw)
    if policy:
        unknown = set(policy) - set(DEFAULT_POLICY)
        if unknown:
            raise ValueError(f"unknown policy keys: {sorted(unknown)}")
        out.update(policy)
    return out


def inspect_health(table: Table, policy: dict | None = None) -> dict:
    """Health signals off the driver-held metadata — zero Spark jobs."""
    pol = resolve_policy(table, policy)
    table.refresh()
    entries = table.entries()
    small_below = int(table.target_file_size * float(pol["compact.fill-ratio"]))
    data = [e for e in entries if e.content == DATA]
    pos = [e for e in entries if e.content == POS_DELETES]
    eq = [e for e in entries if e.content == EQ_DELETES]
    data_records = sum(e.record_count for e in data)
    delete_records = sum(e.record_count for e in pos + eq)
    snaps = table.snapshots()
    snap = table.snapshot()
    cluster_seq = max(
        (s["sequence_number"] for s in snaps if s["operation"] == "cluster"),
        default=None,
    )
    if cluster_seq is None:
        unclustered = data_records
    else:
        unclustered = sum(
            e.record_count for e in data if e.seq > cluster_seq
        )
    health_bloom = _bloom_health(table, pol, data, data_records)
    return {
        **({"bloom": health_bloom} if health_bloom else {}),
        "data_files": len(data),
        "data_records": data_records,
        "data_bytes": sum(e.file_size_bytes for e in data),
        "small_files": sum(1 for e in data if e.file_size_bytes < small_below),
        "small_file_below_bytes": small_below,
        "pos_delete_files": len(pos),
        "eq_delete_files": len(eq),
        "delete_records": delete_records,
        "delete_ratio_ppm": (
            delete_records * PPM // data_records if data_records else 0
        ),
        "manifests": len(snap["manifests"]) if snap else 0,
        "snapshots": len(snaps),
        "last_cluster_seq": cluster_seq,
        "unclustered_records": unclustered,
        "unclustered_ppm": (
            unclustered * PPM // data_records if data_records else 0
        ),
    }


def _bloom_health(
    table: Table, pol: dict, data: list, data_records: int
) -> dict:
    """Per configured bloom column: which snapshot the index covers and the
    ppm of live rows in files outside that coverage. Driver-held metadata
    only (index JSON + manifests) — zero Spark jobs, like the rest of
    inspect_health; the shard payloads are never read here."""
    cols = tuple(pol.get("bloom.columns") or ())
    if not cols:
        return {}
    from olake_spark.icelite.bloom import _load_index

    out: dict[str, dict] = {}
    live = {e.file_path: e.record_count for e in data}
    for c in cols:
        idx = _load_index(table, c)
        covered: set[str] = set()
        snap = None
        if idx is not None:
            snap = idx["snapshot_id"]
            try:
                covered = {
                    e.file_path
                    for e in table.entries(snap)
                    if e.content == DATA
                }
            except Exception:
                # indexed snapshot expired: coverage unknowable → fully
                # stale (bloom_file_filter likewise keeps uncovered files)
                covered = set()
        unc = sum(rc for p, rc in live.items() if p not in covered)
        out[c] = {
            "indexed_snapshot": snap,
            "uncovered_records": unc,
            "uncovered_ppm": (
                unc * PPM // data_records if data_records else 0
            ),
        }
    return out


def plan_maintenance(
    table: Table, policy: dict | None = None, health: dict | None = None
) -> list[dict]:
    """Ordered [{op, reason, params}] — a pure function of health ×
    policy; running it costs nothing and commits nothing."""
    pol = resolve_policy(table, policy)
    h = health if health is not None else inspect_health(table, pol)
    actions: list[dict] = []

    ratio_hot = h["delete_ratio_ppm"] >= int(pol["deletes.max-delete-ratio-ppm"])
    if h["pos_delete_files"] >= int(pol["deletes.min-delete-files"]) or (
        h["pos_delete_files"] > 0 and ratio_hot
    ):
        actions.append({
            "op": "rewrite-deletes",
            "reason": (
                f"{h['pos_delete_files']} pos-delete files "
                f"(min {pol['deletes.min-delete-files']}), delete ratio "
                f"{h['delete_ratio_ppm']} ppm "
                f"(max {pol['deletes.max-delete-ratio-ppm']})"
            ),
            "params": {},
        })

    small_hot = h["small_files"] >= int(pol["compact.min-input-files"])
    eq_hot = h["eq_delete_files"] > 0 and ratio_hot
    if small_hot or eq_hot:
        why = []
        if small_hot:
            why.append(
                f"{h['small_files']} files under "
                f"{h['small_file_below_bytes']} B "
                f"(min {pol['compact.min-input-files']})"
            )
        if eq_hot:
            why.append(
                f"{h['eq_delete_files']} eq-delete files at "
                f"{h['delete_ratio_ppm']} ppm delete ratio"
            )
        actions.append({
            "op": "compact",
            "reason": "; ".join(why),
            "params": {"fill_ratio": float(pol["compact.fill-ratio"])},
        })

    curve = pol["cluster.curve"]
    if (
        curve
        and h["data_records"] > 0
        and h["unclustered_ppm"] >= int(pol["cluster.max-unclustered-ppm"])
    ):
        actions.append({
            "op": "cluster",
            "reason": (
                f"{h['unclustered_ppm']} ppm of rows in files sequenced "
                f"after the last cluster commit "
                f"(max {pol['cluster.max-unclustered-ppm']}; "
                f"last cluster seq {h['last_cluster_seq']})"
            ),
            "params": {
                "curve": str(curve),
                "key_cols": tuple(pol["cluster.key-cols"]),
            },
        })

    # a rewrite packs the live entries into ceil(entries / target)
    # manifests; past that count it has nothing left to merge, so the
    # trigger settles after one run even on a table too big for max-count
    mf_target = int(pol["manifests.target-entries"])
    mf_entries = h["data_files"] + h["pos_delete_files"] + h["eq_delete_files"]
    if h["manifests"] > max(
        int(pol["manifests.max-count"]), -(-mf_entries // mf_target)
    ):
        actions.append({
            "op": "manifests",
            "reason": (
                f"{h['manifests']} manifests "
                f"(max {pol['manifests.max-count']})"
            ),
            "params": {"target_entries": mf_target},
        })

    bloom_cols = tuple(pol.get("bloom.columns") or ())
    if bloom_cols and h["data_records"] > 0:
        stale = [
            c
            for c, s in h.get("bloom", {}).items()
            if s["uncovered_ppm"] >= int(pol["bloom.max-stale-ppm"])
        ]
        rewrites = [
            a["op"]
            for a in actions
            if a["op"] in ("rewrite-deletes", "compact", "cluster")
        ]
        # a rewrite planned THIS run strands the current coverage the
        # moment it commits — rebuild every configured column afterwards
        if stale or rewrites:
            why = []
            if stale:
                why.append(
                    "stale coverage: "
                    + ", ".join(
                        f"{c}={h['bloom'][c]['uncovered_ppm']} ppm"
                        for c in stale
                    )
                    + f" (max {pol['bloom.max-stale-ppm']})"
                )
            if rewrites:
                why.append(
                    f"rewrites planned this run: {', '.join(rewrites)}"
                )
            actions.append({
                "op": "bloom",
                "reason": "; ".join(why),
                "params": {
                    "columns": list(bloom_cols if rewrites else stale),
                    "fpp": float(pol["bloom.fpp"]),
                },
            })

    if h["snapshots"] > int(pol["expire.max-snapshots"]):
        actions.append({
            "op": "expire",
            "reason": (
                f"{h['snapshots']} snapshots "
                f"(max {pol['expire.max-snapshots']})"
            ),
            "params": {
                "keep_last": pol["expire.keep-last"],
                "grace_seconds": float(pol["expire.grace-seconds"]),
            },
        })

    actions.sort(key=lambda a: _ORDER.index(a["op"]))
    return actions


def run_autopilot(
    table: Table,
    job_id: str,
    policy: dict | None = None,
    log: MaintenanceLog | None = None,
    execute: bool = True,
    verify: bool = False,
) -> dict:
    """Plan, then (unless ``execute=False``) run each action through its
    operator. Returns {health_before, actions (with per-op results),
    health_after}. Resumable: rerun with the same ``job_id`` and each
    operator resumes from the table's own commits, as it does when called
    directly (``log`` only records lineage)."""
    pol = resolve_policy(table, policy)
    before = inspect_health(table, pol)
    actions = plan_maintenance(table, pol, health=before)
    report = {"health_before": before, "actions": [], "dry_run": not execute}
    for act in actions:
        entry = dict(act)
        if execute:
            entry["result"] = _run_action(table, job_id, act, log, verify)
        report["actions"].append(entry)
    report["health_after"] = (
        inspect_health(table, pol) if execute else before
    )
    return report


def _run_action(
    table: Table, job_id: str, act: dict,
    log: MaintenanceLog | None, verify: bool,
) -> dict:
    op, params = act["op"], act["params"]
    if op == "rewrite-deletes":
        from olake_spark.operators.compact import (purge_dead_deletes,
                                                   rewrite_position_deletes)

        out = rewrite_position_deletes(table)
        out["dead_deletes_purged"] = purge_dead_deletes(table)
        return out
    if op == "compact":
        from olake_spark.operators.compact import run_compaction

        return run_compaction(
            table, f"{job_id}-compact", log=log,
            fill_ratio=params["fill_ratio"], verify=verify,
        )
    if op == "cluster":
        from olake_spark.operators.cluster import run_cluster_rewrite

        return run_cluster_rewrite(
            table, f"{job_id}-cluster", curve=params["curve"], log=log,
            key_cols=tuple(params["key_cols"]), verify=verify,
        )
    if op == "manifests":
        from olake_spark.operators.manifests import rewrite_manifests

        return rewrite_manifests(
            table, target_entries=params["target_entries"]
        )
    if op == "bloom":
        from olake_spark.icelite.bloom import build_bloom_index

        # incremental: covered files keep their bitmaps, only the delta is
        # scanned — O(new files) after an append, O(table) after a full
        # rewrite, correct either way
        out = {}
        for c in params["columns"]:
            idx = build_bloom_index(
                table, c, fpp=params["fpp"], incremental=True
            )
            out[c] = {
                "n_files": idx["n_files"],
                "n_files_built": idx["n_files_built"],
            }
        return out
    if op == "expire":
        from olake_spark.operators.expire import run_expire

        return run_expire(
            table, keep_last=params["keep_last"],
            grace_seconds=params["grace_seconds"],
            job_id=f"{job_id}-expire", log=log,
        )
    raise ValueError(f"unknown action {op!r}")  # pragma: no cover


def run_fleet(
    catalog,
    job_id: str,
    policy: dict | None = None,
    namespaces: list[str] | None = None,
    log: MaintenanceLog | None = None,
    execute: bool = True,
    verify: bool = False,
) -> dict:
    """The nightly job real fleets actually run: autopilot over EVERY table
    a catalog knows (filesystem or REST — both expose list_namespaces /
    list_tables / load_table). Per-table policy comes from each table's own
    ``autopilot.*`` properties (the ``policy`` dict layers on top of all of
    them), so a heterogeneous fleet needs no per-table wiring here. One
    misbehaving table never kills the sweep: its error is recorded and the
    walk continues — the sweep's exit contract is the report, not an
    exception. Tables are processed sequentially by design: maintenance
    parallelism belongs INSIDE an op (executor-wide rewrites), not across
    tables fighting for the same executors.

    Returns ``{tables: {ident: {actions | error, ...}}, n_tables,
    n_with_actions, n_errors, dry_run}``.
    """
    report: dict = {"tables": {}, "dry_run": not execute}
    for ns in (namespaces or catalog.list_namespaces() or ["default"]):
        for ident in catalog.list_tables(ns):
            try:
                t = catalog.load_table(ident)
                rep = run_autopilot(
                    t, f"{job_id}-{ident}", policy=policy, log=log,
                    execute=execute, verify=verify,
                )
                report["tables"][ident] = rep
            except Exception as ex:  # noqa: BLE001 — sweep must survive
                report["tables"][ident] = {
                    "error": f"{type(ex).__name__}: {ex}"
                }
    vals = report["tables"].values()
    report["n_tables"] = len(report["tables"])
    report["n_with_actions"] = sum(1 for r in vals if r.get("actions"))
    report["n_errors"] = sum(1 for r in vals if "error" in r)
    return report


def report_json(report: dict) -> str:
    """One JSON line for the CLI / cron logs."""
    return json.dumps(report, sort_keys=True, default=str)
