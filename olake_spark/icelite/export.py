"""Iceberg-spec exporter + importer: materialize an icelite table's CURRENT
snapshot as spec-v2 Iceberg metadata — `metadata.json` + Avro manifest list
+ Avro manifests (via the in-repo Avro codec, avro.py) — referencing the
ORIGINAL parquet data files by absolute URI, zero bytes copied.

The reference's output IS spec-Iceberg (manifest building:
IcebergUtil.java:139-217; catalog metadata swing iceberg_utils.go:197-260);
icelite's native dialect (JSON metadata + parquet manifests) is internally
consistent but not spec-readable. This module closes that believability gap
one way: every spec-required field is emitted with spec names, spec field
IDs, and the spec's single-value binary encoding for column bounds.

Conformance matrix (spec area → status):
  table metadata v2 required fields        → all emitted (see _metadata_json)
  schema JSON (struct/field-id/required)   → emitted; ids assigned pre-order
  partition spec JSON                      → emitted; field-ids 1000+i;
                                             transform names (identity,
                                             bucket[N], truncate[W], year…)
                                             match the spec
  partition VALUES in manifests            → spec-typed per transform result
                                             type (_partition_codec): int for
                                             bucket, years/months/hours since
                                             epoch for year/month/hour, int
                                             logicalType=date for day, source
                                             type for identity/truncate —
                                             matching the reference's real
                                             output shape
                                             (IcebergUtil.java:139-217);
                                             import_iceberg inverts exactly.
  manifest list (Avro, field-ids 500-519)  → emitted
  manifest_entry / data_file (ids 0-4,     → emitted; eq-delete manifests
    100-142)                                 carry equality_ids
  bounds maps (key = field-id, value =     → int/long LE, float/double LE,
    single-value binary, Appendix D)         string UTF-8; other types omitted
  positional-delete manifests              → content=1 manifests with the
                                             spec's (file_path, pos) schema
                                             reference (files stay parquet)
  snapshot summary / refs / logs           → emitted (current snapshot only;
                                             history is icelite-native)

Not emitted: prior snapshots (CURRENT-state export only), Puffin stats,
metrics beyond counts/bounds/nulls. The per-file integer interval
summaries (`FileEntry.ranges`) have no spec field: an export carries only
each column's lower/upper bound, and an imported table has no summaries
(it prunes by min/max alone until its files are rewritten).
`null_value_counts` has no entry for a binary column: data files carry no
parquet statistics on one (`stats.unstated_columns`), so the manifest has
no null count to export; Iceberg treats a missing entry as unknown.
No external Iceberg reader ships in
this container, so the interop proof is the in-repo ROUND TRIP:
`import_iceberg` below reads an export (metadata.json + Avro manifests)
back into a brand-new icelite table — schema, identifier fields, partition
spec, per-entry sequence numbers, bounds, and BOTH delete kinds survive,
and the imported table's scan equals the source's (tests/test_export.py).

The read direction also works IN PLACE: `open_iceberg` scans a spec table
where it lies — metadata.json or table root, no copy, no icelite table, no
write of any kind — with both delete kinds reconciled, status=2 (DELETED)
entries excluded, and null entry sequence numbers inherited from the
manifest list (the spec's ADDED-entry inheritance rule). That is the
zero-copy migration path out of a warehouse written by real Iceberg.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .avro import write_ocf
from .table import (DATA, EQ_DELETES, POS_DELETES, FileEntry, Table,
                    metadata_version, uri_path)

_FMT = "PARQUET"


# ----------------------------------------------------- schema (field ids)


def _assign_ids(schema: T.StructType):
    """Pre-order field-id assignment (stable: by schema position)."""
    counter = {"next": 1}

    def walk_struct(st: T.StructType) -> list[dict]:
        fields = []
        heads = []
        for f in st.fields:
            fid = counter["next"]
            counter["next"] += 1
            heads.append((fid, f))
        for fid, f in heads:
            fields.append({
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": walk_type(f.dataType),
            })
        return fields

    def walk_type(dt: T.DataType):
        if isinstance(dt, T.StructType):
            return {"type": "struct", "fields": walk_struct(dt)}
        if isinstance(dt, T.ArrayType):
            eid = counter["next"]
            counter["next"] += 1
            return {
                "type": "list",
                "element-id": eid,
                "element": walk_type(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            kid = counter["next"]
            vid = counter["next"] + 1
            counter["next"] += 2
            return {
                "type": "map",
                "key-id": kid,
                "key": walk_type(dt.keyType),
                "value-id": vid,
                "value": walk_type(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        simple = {
            T.StringType: "string", T.LongType: "long", T.IntegerType: "int",
            T.DoubleType: "double", T.FloatType: "float",
            T.BooleanType: "boolean", T.BinaryType: "binary",
            T.DateType: "date", T.TimestampType: "timestamptz",
            T.ShortType: "int", T.ByteType: "int",
        }
        for k, v in simple.items():
            if isinstance(dt, k):
                return v
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        raise ValueError(f"no Iceberg mapping for Spark type {dt}")

    fields = walk_struct(schema)
    return fields, counter["next"] - 1


def _top_level_ids(fields: list[dict]) -> dict[str, int]:
    return {f["name"]: f["id"] for f in fields}


def _top_level_types(schema: T.StructType) -> dict[str, T.DataType]:
    return {f.name: f.dataType for f in schema.fields}


# ------------------------------------------- single-value binary (App. D)


def _bound_bytes(dt: T.DataType, v) -> bytes | None:
    import struct as _s

    try:
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return _s.pack("<i", int(v))
        if isinstance(dt, T.LongType):
            return _s.pack("<q", int(v))
        if isinstance(dt, T.FloatType):
            return _s.pack("<f", float(v))
        if isinstance(dt, T.DoubleType):
            return _s.pack("<d", float(v))
        if isinstance(dt, T.StringType):
            return str(v).encode("utf-8")
    except (ValueError, TypeError, OverflowError):
        return None
    return None  # other types: bounds omitted (allowed — metrics optional)


# ------------------------------------------------------ Avro schemas (spec)


def _kv_array(name: str, kid: int, vid: int, vtype) -> dict:
    """Iceberg's Avro rendering of map<int, ...>: array of key/value records
    (Avro map keys must be strings), logicalType map."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": vtype, "field-id": vid},
            ],
        },
    }


def _partition_codec(transform: str, src_dt: T.DataType):
    """Spec partition-value codec for one partition field: returns
    (avro_type, encode, decode) where `encode` maps icelite's native
    directory-string value to the SPEC's typed value (the transform's
    result type — int for bucket, years/months/days/hours since epoch for
    time transforms, source type for identity/truncate) and `decode` is the
    exact inverse back to icelite's string form. This is what makes the
    exported manifests carry Appendix-D-typed partition tuples instead of
    icelite's string encoding."""
    import datetime as _dt

    epoch = _dt.date(1970, 1, 1)
    if transform == "void":
        # dropped partition field (v1 spec evolution): always null
        return "int", (lambda v: None), (lambda v: None)
    if transform == "bucket":
        return "int", lambda v: int(v), lambda v: str(int(v))
    if transform == "year":
        # icelite stores the calendar year; spec counts years from 1970
        return "int", (lambda v: int(v) - 1970), (lambda v: str(int(v) + 1970))
    if transform == "month":
        def enc(v):
            y, m = str(v).split("-")
            return (int(y) - 1970) * 12 + int(m) - 1

        def dec(v):
            y, m = divmod(int(v), 12)
            return f"{1970 + y:04d}-{m + 1:02d}"

        return "int", enc, dec
    if transform == "day":
        def enc(v):
            return (_dt.date.fromisoformat(str(v)) - epoch).days

        def dec(v):
            return (epoch + _dt.timedelta(days=int(v))).isoformat()

        return {"type": "int", "logicalType": "date"}, enc, dec
    if transform == "hour":
        def enc(v):
            d, h = str(v).rsplit("-", 1)
            return (_dt.date.fromisoformat(d) - epoch).days * 24 + int(h)

        def dec(v):
            days, h = divmod(int(v), 24)
            return f"{(epoch + _dt.timedelta(days=days)).isoformat()}-{h:02d}"

        return "int", enc, dec
    if transform in ("identity", "truncate"):
        # result type = source type (truncate is defined on int/long/string/
        # decimal; identity on any primitive — real Iceberg tables partition
        # by identity(ts)/float/decimal too, and open_iceberg must load them)
        if isinstance(src_dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int", lambda v: int(v), lambda v: str(int(v))
        if isinstance(src_dt, T.LongType):
            return "long", lambda v: int(v), lambda v: str(int(v))
        if isinstance(src_dt, T.StringType):
            return "string", lambda v: str(v), lambda v: str(v)
        if isinstance(src_dt, T.DecimalType):
            scale = src_dt.scale

            def enc_dec(v):
                from decimal import Decimal

                unscaled = int(Decimal(str(v)).scaleb(scale))
                n = max(1, (unscaled.bit_length() + 8) // 8)
                return unscaled.to_bytes(n, "big", signed=True)

            def dec_dec(v):
                from decimal import Decimal

                unscaled = int.from_bytes(bytes(v), "big", signed=True)
                return str(Decimal(unscaled).scaleb(-scale))

            return ({"type": "bytes", "logicalType": "decimal",
                     "precision": src_dt.precision, "scale": scale},
                    enc_dec, dec_dec)
        if transform == "identity":
            if isinstance(src_dt, T.BooleanType):
                return ("boolean", lambda v: str(v).lower() == "true",
                        lambda v: "true" if v else "false")
            if isinstance(src_dt, T.DateType):
                return ({"type": "int", "logicalType": "date"},
                        lambda v: (_dt.date.fromisoformat(str(v)) - epoch).days,
                        lambda v: (epoch + _dt.timedelta(days=int(v)))
                        .isoformat())
            if isinstance(src_dt, T.TimestampType):
                ep = _dt.datetime(1970, 1, 1)

                def enc_ts(v):
                    d = _dt.datetime.fromisoformat(str(v).replace("Z", ""))
                    return round((d - ep).total_seconds() * 1_000_000)

                def dec_ts(v):
                    return (ep + _dt.timedelta(microseconds=int(v))
                            ).isoformat()

                return ({"type": "long", "logicalType": "timestamp-micros"},
                        enc_ts, dec_ts)
            if isinstance(src_dt, T.FloatType):
                return "float", lambda v: float(v), lambda v: repr(float(v))
            if isinstance(src_dt, T.DoubleType):
                return "double", lambda v: float(v), lambda v: repr(float(v))
        raise ValueError(
            f"no spec partition-value codec for {transform} over "
            f"{src_dt.simpleString()}"
        )
    raise ValueError(f"unknown transform {transform!r}")


def _partition_avro_schema(spec_fields: list[dict],
                           avro_types: dict[str, object]) -> dict:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": f["name"],
                "type": ["null", avro_types[f["name"]]],
                "default": None,
                "field-id": f["field-id"],
            }
            for f in spec_fields
        ],
    }


def _manifest_entry_schema(partition_schema: dict) -> dict:
    df_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_schema, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "null_value_counts",
         "type": ["null", _kv_array("k110_v111", 121, 122, "long")],
         "default": None, "field-id": 110},
        {"name": "lower_bounds",
         "type": ["null", _kv_array("k126_v127", 126, 127, "bytes")],
         "default": None, "field-id": 125},
        {"name": "upper_bounds",
         "type": ["null", _kv_array("k129_v130", 129, 130, "bytes")],
         "default": None, "field-id": 128},
        {"name": "split_offsets",
         "type": ["null", {"type": "array", "items": "long",
                           "element-id": 133}],
         "default": None, "field-id": 132},
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}],
         "default": None, "field-id": 135},
        {"name": "sort_order_id", "type": ["null", "int"],
         "default": None, "field-id": 140},
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file",
             "type": {"type": "record", "name": "r2", "fields": df_fields},
             "field-id": 2},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "key_metadata", "type": ["null", "bytes"],
         "default": None, "field-id": 519},
    ],
}


# ------------------------------------------------------------------ export


def export_iceberg(table: Table, dest_dir: str) -> dict:
    """Write spec-v2 Iceberg metadata for `table`'s current snapshot under
    `dest_dir/metadata/`; data files are referenced in place by absolute
    path. Returns {"metadata_json": path, "manifest_list": path,
    "manifests": [paths], "data_files": n, "delete_files": n}."""
    table.refresh()
    if table.current_snapshot_id is None:
        raise ValueError(
            "export_iceberg: table has no current snapshot (nothing to "
            "export) — append data first"
        )
    meta_dir = os.path.join(os.path.abspath(dest_dir), "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    fields, last_col_id = _assign_ids(table.schema)
    ids = _top_level_ids(fields)
    dts = _top_level_types(table.schema)
    spec_fields = []
    for i, pf in enumerate(table.spec.fields):
        transform = pf.transform
        if transform in ("bucket", "truncate"):
            transform = f"{transform}[{pf.n}]"
        spec_fields.append({
            "name": pf.name,
            "transform": transform,
            "source-id": ids[pf.source],
            "field-id": 1000 + i,
        })

    snap_id = table.current_snapshot_id or 0
    seq = table.meta["last_sequence_number"]
    entries = table.entries()
    part_codecs = {
        pf.name: _partition_codec(pf.transform, dts[pf.source])
        for pf in table.spec.fields
    }
    part_schema = _partition_avro_schema(
        spec_fields, {n: c[0] for n, c in part_codecs.items()}
    )
    entry_schema = _manifest_entry_schema(part_schema)

    def _bounds(e, which):
        src = e.mins if which == "lower" else e.maxs
        out = []
        for col, v in src.items():
            if col in ids and v is not None:
                b = _bound_bytes(dts[col], v)
                if b is not None:
                    out.append({"key": ids[col], "value": b})
        return sorted(out, key=lambda d: d["key"]) or None

    def _entry_rec(e):
        return {
            "status": 1,  # ADDED in the exported snapshot
            "snapshot_id": snap_id,
            "sequence_number": e.seq,
            "file_sequence_number": e.seq,
            "data_file": {
                "content": e.content,
                "file_path": table._abs(e.file_path),
                "file_format": _FMT,
                "partition": {
                    f["name"]: (
                        None if e.partition.get(f["name"]) is None
                        else part_codecs[f["name"]][1](
                            e.partition[f["name"]]
                        )
                    )
                    for f in spec_fields
                },
                "record_count": e.record_count,
                "file_size_in_bytes": e.file_size_bytes,
                "null_value_counts": sorted(
                    ({"key": ids[c], "value": int(n)}
                     for c, n in e.nulls.items() if c in ids),
                    key=lambda d: d["key"],
                ) or None,
                "lower_bounds": _bounds(e, "lower"),
                "upper_bounds": _bounds(e, "upper"),
                "split_offsets": None,
                "equality_ids": (
                    [ids[c] for c in table.identifier_fields]
                    if e.content == EQ_DELETES else None
                ),
                "sort_order_id": 0 if e.content == DATA else None,
            },
        }

    manifests: list[str] = []
    list_entries: list[dict] = []
    groups = [
        ("data", [e for e in entries if e.content == DATA], 0),
        ("eq-deletes", [e for e in entries if e.content == EQ_DELETES], 1),
        ("pos-deletes", [e for e in entries if e.content == POS_DELETES], 1),
    ]
    for tag, group, content in groups:
        if not group:
            continue
        path = os.path.join(meta_dir, f"manifest-{tag}-{snap_id}.avro")
        blob = write_ocf(entry_schema, [_entry_rec(e) for e in group])
        with open(path, "wb") as f:
            f.write(blob)
        manifests.append(path)
        list_entries.append({
            "manifest_path": path,
            "manifest_length": len(blob),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": max(e.seq for e in group),
            "min_sequence_number": min(e.seq for e in group),
            "added_snapshot_id": snap_id,
            "added_files_count": len(group),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(e.record_count for e in group),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "key_metadata": None,
        })

    mlist_path = os.path.join(
        meta_dir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
    )
    with open(mlist_path, "wb") as f:
        f.write(write_ocf(_MANIFEST_FILE_SCHEMA, list_entries))

    now_ms = int(time.time() * 1000)
    cur = next(
        (s for s in table.meta["snapshots"] if s["snapshot_id"] == snap_id),
        None,
    )
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": (cur or {}).get("timestamp_ms", now_ms),
        "summary": {
            "operation": "append",
            "exported-from": "icelite",
            "source-operation": (cur or {}).get("operation", ""),
        },
        "manifest-list": mlist_path,
        "schema-id": 0,
    }
    metadata = {
        "format-version": 2,
        "table-uuid": table.meta.get("table_uuid", uuid.uuid4().hex),
        "location": os.path.abspath(dest_dir),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct",
            "schema-id": 0,
            "identifier-field-ids": [
                ids[c] for c in table.identifier_fields
            ],
            "fields": fields,
        }],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 1000 + len(spec_fields) - 1
        if spec_fields else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{
            "order-id": 0,
            "fields": [
                {"transform": "identity", "source-id": ids[c],
                 "direction": "asc", "null-order": "nulls-first"}
                for c in table.sort_order if c in ids
            ],
        }],
        "properties": {
            k: str(v) for k, v in table.meta["properties"].items()
        },
        "current-snapshot-id": snap_id,
        "refs": {
            "main": {"snapshot-id": snap_id, "type": "branch"},
        },
        "snapshots": [snapshot],
        "snapshot-log": [{
            "snapshot-id": snap_id, "timestamp-ms": now_ms,
        }],
        "metadata-log": [],
    }
    mjson = os.path.join(meta_dir, "v1.metadata.json")
    with open(mjson, "w") as f:
        json.dump(metadata, f, indent=2)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")
    return {
        "metadata_json": mjson,
        "manifest_list": mlist_path,
        "manifests": manifests,
        "data_files": sum(1 for e in entries if e.content == DATA),
        "delete_files": sum(1 for e in entries if e.content != DATA),
    }


# ------------------------------------------------------------------ import


_SIMPLE_TO_SPARK = {
    "string": T.StringType, "long": T.LongType, "int": T.IntegerType,
    "double": T.DoubleType, "float": T.FloatType, "boolean": T.BooleanType,
    "binary": T.BinaryType, "date": T.DateType, "timestamptz": T.TimestampType,
}


def _iceberg_type_to_spark(t):
    if isinstance(t, str):
        if t in _SIMPLE_TO_SPARK:
            return _SIMPLE_TO_SPARK[t]()
        if t.startswith("decimal("):
            p, s = t[8:-1].split(",")
            return T.DecimalType(int(p), int(s))
        raise ValueError(f"no Spark mapping for Iceberg type {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType([
            T.StructField(
                f["name"], _iceberg_type_to_spark(f["type"]),
                not f.get("required", False),
            )
            for f in t["fields"]
        ])
    if kind == "list":
        return T.ArrayType(
            _iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if kind == "map":
        return T.MapType(
            _iceberg_type_to_spark(t["key"]),
            _iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise ValueError(f"no Spark mapping for Iceberg type {t!r}")


def _bound_value(dt: T.DataType, raw: bytes):
    import struct as _s

    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return _s.unpack("<i", raw)[0]
    if isinstance(dt, T.LongType):
        return _s.unpack("<q", raw)[0]
    if isinstance(dt, T.FloatType):
        return _s.unpack("<f", raw)[0]
    if isinstance(dt, T.DoubleType):
        return _s.unpack("<d", raw)[0]
    if isinstance(dt, T.StringType):
        return raw.decode("utf-8")
    return None


def _resolve_metadata_path(location: str) -> str:
    """Accept either a metadata.json path or a table ROOT directory (the
    HadoopTables layout real Iceberg writes): a root resolves through
    `metadata/version-hint.text` when present, else the highest
    `vN.metadata.json` under `metadata/` — the same newest-wins convention
    HadoopTableOperations uses. file: URIs (the form real metadata
    self-references and catalogs hand out) are normalized first."""
    location = _norm_uri(location)
    if os.path.isfile(location):
        return location
    mdir = os.path.join(location, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(
            f"no metadata.json and no metadata/ dir under {location!r}"
        )
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.isfile(hint):
        v = open(hint).read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.isfile(cand):
            return cand
    versions = [
        (v, n) for n in os.listdir(mdir) if (v := metadata_version(n)) is not None
    ]
    if not versions:
        raise FileNotFoundError(f"no vN.metadata.json under {mdir!r}")
    return os.path.join(mdir, max(versions)[1])


def _norm_uri(p: str) -> str:
    """file:///a/b and file:/a/b → /a/b (other schemes pass through)."""
    if p.startswith("file:"):
        rest = p[len("file:"):]
        return "/" + rest.lstrip("/")
    return p


def _load_iceberg(metadata_json: str, snapshot_id: int | None = None):
    """Shared spec-v2 reader for import_iceberg and open_iceberg: parse
    metadata.json + the pinned snapshot's Avro manifest list + manifests into
    (meta, Spark schema, id maps, identifier fields, partition fields/codecs,
    snapshot dict, entry tuples). Real-Iceberg fidelity rules applied here so
    both consumers inherit them: entries with status=2 (DELETED) are dropped
    from the live set, and a null entry sequence number inherits the
    manifest-list entry's sequence number (spec inheritance for ADDED
    entries)."""
    from types import SimpleNamespace

    from .avro import read_ocf
    from .spec import PartitionField

    meta = json.load(open(metadata_json))
    if meta.get("format-version") != 2:
        raise ValueError("icelite reads format-version 2 Iceberg metadata")
    schema_json = next(
        sc for sc in meta["schemas"]
        if sc.get("schema-id") == meta["current-schema-id"]
    )
    by_id = {f["id"]: f["name"] for f in schema_json["fields"]}
    types_by_id = {
        f["id"]: _iceberg_type_to_spark(f["type"])
        for f in schema_json["fields"]
        if isinstance(f["type"], str) or f["type"].get("type") != "struct"
    }
    schema = T.StructType([
        T.StructField(
            f["name"], _iceberg_type_to_spark(f["type"]),
            not f.get("required", False),
        )
        for f in schema_json["fields"]
    ])
    ident = tuple(
        by_id[i] for i in schema_json.get("identifier-field-ids", [])
    )
    spec_json = next(
        sp for sp in meta["partition-specs"]
        if sp.get("spec-id") == meta["default-spec-id"]
    )
    pfields = []
    for f in spec_json["fields"]:
        tr = f["transform"]
        n = 0
        if "[" in tr:
            tr, arg = tr[:-1].split("[")
            n = int(arg)
        pfields.append(PartitionField(by_id[f["source-id"]], tr, n))
    part_codecs = {
        pf.name: _partition_codec(pf.transform, schema[pf.source].dataType)
        for pf in pfields
    }

    snap_id = snapshot_id if snapshot_id is not None else (
        meta.get("current-snapshot-id")
    )
    if snapshot_id is None and (snap_id is None or snap_id == -1):
        # real Iceberg writes current-snapshot-id -1 (or omits it) for a
        # table with no commits yet: a legal, empty table — not an error
        return SimpleNamespace(
            meta=meta, schema=schema, by_id=by_id, types_by_id=types_by_id,
            ident=ident, pfields=pfields, part_codecs=part_codecs,
            snap_id=None, snap=None, entries=[],
        )
    snap = next(
        (s for s in meta.get("snapshots", [])
         if s["snapshot-id"] == snap_id), None
    )
    if snap is None:
        raise ValueError(f"snapshot {snap_id} not in {metadata_json!r}")
    base = os.path.dirname(os.path.abspath(metadata_json))

    def _local(p: str) -> str:
        p = _norm_uri(p)
        return p if os.path.isabs(p) else os.path.join(base, p)

    _, mlist = read_ocf(open(_local(snap["manifest-list"]), "rb").read())
    raw_entries: list[tuple[int, dict, int]] = []
    for m in mlist:
        _, recs = read_ocf(open(_local(m["manifest_path"]), "rb").read())
        for r in recs:
            if r.get("status") == 2:  # DELETED: not part of the live set
                continue
            seq = r["sequence_number"]
            if seq is None:
                seq = m.get("sequence_number") or 0
            raw_entries.append((seq, r["data_file"], m["content"]))

    return SimpleNamespace(
        meta=meta, schema=schema, by_id=by_id, types_by_id=types_by_id,
        ident=ident, pfields=pfields, part_codecs=part_codecs,
        snap_id=snap_id, snap=snap, entries=raw_entries,
    )


def open_iceberg(
    spark,
    location: str,
    snapshot_id: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """IN-PLACE read of a spec-v2 Iceberg table: no icelite table is
    created, no file is copied or written — metadata.json + Avro manifests
    are parsed where they lie and the result is a DataFrame scan of the
    pinned snapshot with BOTH delete kinds reconciled, the zero-copy
    migration path out of a real Iceberg warehouse (the reference's native
    output format, IcebergUtil.java:139-217). `location` is a metadata.json
    path or a table root (version-hint / highest-vN, HadoopTables layout);
    `snapshot_id` time-travels across the metadata's snapshot list.

    Delete semantics match table.py's scan: an equality delete at sequence s
    kills matching rows in data files with sequence < s (grouped one read
    per distinct seq, broadcast when small); positional deletes anti-join on
    (file_path, pos) row identity from parquet `_metadata`. Pos-delete row
    keys are resolved against the manifest's data paths by exact
    URI-normalized match first, then by unique-basename suffix match — which
    covers both real Iceberg writers (full-URI keys) and icelite exports
    (source-root-relative keys left in place by the zero-copy exporter)."""
    from pyspark.sql import functions as F

    from .table import BROADCAST_DELETE_ROWS

    ice = _load_iceberg(_resolve_metadata_path(location), snapshot_id)
    data = [
        (s, _norm_uri(df["file_path"]))
        for s, df, _ in ice.entries if df["content"] == DATA
    ]
    eq_dels = [
        (s, _norm_uri(df["file_path"]), df.get("equality_ids") or [],
         df["record_count"])
        for s, df, _ in ice.entries if df["content"] == EQ_DELETES
    ]
    pos_dels = [
        (_norm_uri(df["file_path"]), df["record_count"])
        for s, df, _ in ice.entries if df["content"] == POS_DELETES
    ]
    keep = columns or [f.name for f in ice.schema.fields]
    if not data:
        return spark.createDataFrame(
            [], T.StructType([ice.schema[c] for c in keep])
        )

    reader = spark.read.schema(ice.schema)
    need_pos = bool(pos_dels)

    def _tag(d: DataFrame) -> DataFrame:
        if need_pos:
            return d.withColumn(
                "_file_path", uri_path(F.col("_metadata.file_path"))
            ).withColumn("_pos", F.col("_metadata.row_index"))
        return d

    if not eq_dels:
        df = _tag(reader.parquet(*[p for _, p in data]))
    else:
        by_seq: dict[int, list[str]] = {}
        for s, p in data:
            by_seq.setdefault(s, []).append(p)
        parts = [
            _tag(reader.parquet(*paths)).withColumn("_seq", F.lit(s))
            for s, paths in sorted(by_seq.items())
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # one pass per distinct equality-id set (one set in practice); a
        # delete file without equality_ids falls back to identifier fields
        by_ids: dict[tuple, dict[int, list[str]]] = {}
        rows_by_ids: dict[tuple, int] = {}
        for s, p, eids, rc in eq_dels:
            names = (
                tuple(ice.by_id[i] for i in sorted(eids))
                if eids else tuple(ice.ident)
            )
            by_ids.setdefault(names, {}).setdefault(s, []).append(p)
            rows_by_ids[names] = rows_by_ids.get(names, 0) + rc
        for names, seq_files in by_ids.items():
            keys = list(names)
            dparts = [
                spark.read.parquet(*paths).select(*keys)
                .withColumn("_delete_seq", F.lit(s))
                for s, paths in sorted(seq_files.items())
            ]
            ddf = dparts[0]
            for p in dparts[1:]:
                ddf = ddf.unionByName(p)
            agg = ddf.groupBy(*keys).agg(
                F.max("_delete_seq").alias("_max_del_seq")
            )
            # same broadcast gate as table.py's scan: manifests know the
            # delete row counts, so a huge delete set shuffles (SMJ)
            # instead of being forced through the driver
            if rows_by_ids[names] <= BROADCAST_DELETE_ROWS:
                agg = F.broadcast(agg)
            df = df.join(agg, on=keys, how="left").filter(
                F.col("_max_del_seq").isNull()
                | (F.col("_max_del_seq") <= F.col("_seq"))
            ).drop("_max_del_seq")

    if pos_dels:
        # basename → abs map (writer file names are uuid-unique) resolves
        # relative row keys; exact matches pass through untouched
        bn_map = spark.createDataFrame(
            [(os.path.basename(p), p) for _, p in data], "_bn string, _abs string"
        )
        pdel = spark.read.parquet(*[p for p, _ in pos_dels]).select(
            F.regexp_replace("file_path", "^file:/+", "/").alias("_k"),
            F.col("pos").alias("_pos"),
        ).join(
            F.broadcast(bn_map),
            F.element_at(F.split(F.col("_k"), "/"), -1) == F.col("_bn"),
            "left",
        ).select(
            F.when(
                (F.col("_abs") == F.col("_k"))
                | F.col("_abs").endswith(F.concat(F.lit("/"), F.col("_k"))),
                F.col("_abs"),
            ).otherwise(F.col("_k")).alias("_file_path"),
            "_pos",
        )
        if sum(rc for _, rc in pos_dels) <= BROADCAST_DELETE_ROWS:
            pdel = F.broadcast(pdel)
        df = df.join(pdel, ["_file_path", "_pos"], "left_anti")

    return df.select(*keep)


def import_iceberg(spark, metadata_json: str, dest_root: str, io=None) -> Table:
    """Reverse direction: build a NEW icelite table at `dest_root` from a
    spec-v2 Iceberg export (metadata.json + Avro manifests) — the proof the
    exported manifests are not write-only. Data and equality-delete files
    are registered by reference (zero copy, absolute manifest paths);
    positional-delete files are re-written with row keys remapped to the
    importer's absolute-path tagging (same mechanics as clone.py). Eq-delete
    reconciliation needs no `_delete_seq` column — the manifest entry's
    sequence number is authoritative (table.py:_apply_deletes). For a scan
    with no table creation at all, see open_iceberg. `metadata_json`
    accepts the same forms as open_iceberg: a metadata.json path or a table
    root (version-hint / highest-vN resolution)."""
    metadata_json = _resolve_metadata_path(metadata_json)
    ice = _load_iceberg(metadata_json, None)
    meta = ice.meta
    by_id, types_by_id = ice.by_id, ice.types_by_id
    schema, ident, pfields = ice.schema, ice.ident, ice.pfields
    part_codecs, snap_id = ice.part_codecs, ice.snap_id
    from .spec import PartitionSpec

    def _decode_bounds(kvs):
        out = {}
        for kv in kvs or []:
            name = by_id.get(kv["key"])
            dt = types_by_id.get(kv["key"])
            if name is not None and dt is not None:
                v = _bound_value(dt, kv["value"])
                if v is not None:
                    out[name] = v
        return out

    dest = Table.create(
        spark, dest_root, schema,
        partition_spec=PartitionSpec(tuple(pfields)),
        identifier_fields=ident,
        properties={
            # txn.* markers are the SOURCE table's idempotent-writer state:
            # inheriting them would make a same-txn_app stream silently skip
            # its first batches against the new table (and delete their
            # staged files)
            **{k: v for k, v in meta.get("properties", {}).items()
               if not k.startswith("txn.")},
            "imported-from": os.path.abspath(metadata_json),
        },
        io=io,
    )

    raw_entries = ice.entries
    if not raw_entries:
        return dest

    # rel → abs map for positional-delete row-key remapping: every data
    # path in the export is absolute; relative row keys are suffixes
    data_abs = [
        _norm_uri(df["file_path"])
        for _, df, _ in raw_entries if df["content"] == DATA
    ]
    by_suffix: dict[str, str] = {}
    for a in data_abs:
        parts = a.split(os.sep)
        for cut in range(len(parts) - 1, 0, -1):
            by_suffix.setdefault(os.sep.join(parts[cut:]), a)

    entries: list[FileEntry] = []
    for seq, df, _mcontent in raw_entries:
        nulls = {
            by_id[kv["key"]]: kv["value"]
            for kv in (df["null_value_counts"] or [])
            if kv["key"] in by_id
        }
        mins = _decode_bounds(df["lower_bounds"])
        maxs = _decode_bounds(df["upper_bounds"])
        def _dec_part(k, v):
            atype, _enc, dec = part_codecs[k]
            is_str_type = atype == "string" or (
                isinstance(atype, dict) and atype.get("type") == "string"
            )
            if isinstance(v, str) and not is_str_type:
                # legacy (round-4) export: partition values were written as
                # icelite's native strings under an Avro "string" schema —
                # the OCF reader surfaces them as str; they ARE the target
                # form, so pass through instead of mis-decoding ('2024' is
                # the year 2024, not 1970+2024)
                return v
            return dec(v)

        partition = {
            k: _dec_part(k, v)  # spec-typed value → icelite string
            for k, v in (df["partition"] or {}).items()
            if v is not None and k in part_codecs
        }
        if df["content"] == POS_DELETES:
            # rewrite row keys to the importer's tagging (clone.py pattern)
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            t = pq.read_table(_norm_uri(df["file_path"]))
            cols = t.to_pydict()
            cols["file_path"] = [
                p if os.path.isabs(p) else by_suffix.get(p, p)
                for p in map(_norm_uri, cols["file_path"])
            ]
            rel = os.path.join(
                "deletes", f"posdel-import-{_uuid.uuid4().hex}.parquet"
            )
            pq.write_table(
                pa.table(cols, schema=t.schema),
                os.path.join(dest.root, rel),
            )
            entries.append(FileEntry(
                POS_DELETES, rel, partition, seq,
                df["record_count"], df["file_size_in_bytes"],
                {**mins, "file_path": min(cols["file_path"], default=None)},
                {**maxs, "file_path": max(cols["file_path"], default=None)},
                nulls,
            ))
        else:
            entries.append(FileEntry(
                df["content"], _norm_uri(df["file_path"]), partition, seq,
                df["record_count"], df["file_size_in_bytes"],
                mins, maxs, nulls,
            ))

    dest._commit_snapshot(
        "append", entries,
        seq_used=max(e.seq for e in entries),
        extra_summary={
            "imported-snapshot-id": snap_id,
            "added-files-by-reference": sum(
                1 for e in entries if os.path.isabs(e.file_path)
            ),
        },
    )
    return dest.refresh()
