"""Per-file Bloom-filter index — point-lookup file skipping after clustering.

Why this exists: the table's sort order is PK-asc (`IcebergUtil.java:139-217`
parity), but the maintenance engine's *clustered* layout orders files by the
Hilbert/Z key over (phash, w, h) — after `run_cluster` every data file spans
essentially the whole `image_id` key space, so the manifest min/max bounds
that `Table.scan(predicates=...)` prunes with are powerless for point
lookups: a single-id read degenerates to a full-table scan. Parquet solves
this in-file with optional column Bloom filters; Iceberg's stats story puts
auxiliary sketches in Puffin sidecars referenced from table metadata. This
module is the icelite rendition of that idea: one Bloom bitmap per data file
per indexed column, built in ONE distributed pass, stored as sidecar shards
under `metadata/bloom/`, consulted driver-side to compute a `file_filter`
for `Table.scan` — metadata-only pruning, correctness never depends on it
(the scan still applies the real predicate; a Bloom can only over-include,
never exclude a file that holds a match).

Scale shape (the 10^12-row story):

- **Build** is one scan of the indexed column only (column-pruned parquet
  read; the heavy `bytes` column is never touched), with both hash values
  computed JVM-side (`xxhash64`, whole-stage codegen). The Python kernel
  sees (file, h1, h2) triples and reduces them to per-file partial bitmaps
  *within each task* (numpy bit-ops over Arrow batches), so the only
  shuffle moves partial bitmaps — O(tasks × bitmap), never O(rows) — and
  the final per-file OR-reduce is a groupBy over #files rows.
- **Bitmaps are bounded**: m is sized from the manifest's per-file row
  count at the requested false-positive rate and capped (default 1 MiB per
  file ≈ the budget parquet's own bloom pages run at). Sidecar shards hold
  many files each; the driver streams the reduced bitmaps shard-by-shard
  (`toLocalIterator`), so driver memory is O(shard), not O(table).
- **Lookup** is driver-only metadata work: hash the probe values (same
  JVM expressions, one tiny local job), stream the shards, test k bits per
  (file, value). Returns the candidate file set for `scan(file_filter=...)`.
  Files the index does not cover (appended after the build, or a stale
  snapshot mismatch) are always kept — no false negatives by construction.

Storage piggybacks the FileIO text surface (bitmaps base64-inside JSON
shards) so every FileIO backend — local, objectstore-semantics — works
unchanged; at deployment scale the shards would be binary Puffin blobs, a
serialization swap that changes nothing structural. Sidecars live under
`metadata/bloom/`, which `remove_orphan_files` never walks (it reaps data/,
deletes/ and metadata/manifests/ only), and a rebuild atomically replaces
the per-column index pointer before best-effort removing the superseded
shards — the same replace discipline as `Table.set_statistics`.

Reference provenance: the reference engine carries no secondary indexes —
its point reads are source-DB queries (`pkg/jdbc/jdbc.go:66-73`) — but its
Iceberg writer's per-file stats (`IcebergUtil.java:234-253`) are exactly the
min/max half of this file-skipping story; the Bloom half is the standard
lakehouse completion of it (Parquet bloom pages, Puffin sketches).
"""

from __future__ import annotations

import base64
import json
import math
import os
import time
import uuid
from typing import Any, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from olake_spark.icelite.table import DATA, Table, uri_path

_ALGO = "xxhash64-km-v1"  # Kirsch-Mitzenmacher double hashing over xxhash64
_H2_TAG = "olake-bloom-h2"  # second hash = xxhash64(tag, col): independent seed chain
_BLOOM_DIR = os.path.join("metadata", "bloom")
_DEFAULT_FPP = 0.01
_DEFAULT_MAX_BITS = 1 << 23  # 1 MiB bitmap cap per file
_SHARD_FILES = 256  # files per sidecar shard
_KERNEL_FLUSH_BYTES = 64 << 20  # partial-bitmap budget per task before a flush


def _size_bloom(n_rows: int, fpp: float, max_bits: int) -> tuple[int, int]:
    """(m_bits, k) for n rows at target fpp; m byte-aligned and capped."""
    n = max(1, n_rows)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max_bits, max(64, (m + 7) & ~7))
    k = min(16, max(1, round(m / n * math.log(2))))
    return m, k


def _hash_cols(column: str) -> list:
    # both hashes JVM-side; h2 chains an independent seed via a literal tag
    return [
        F.xxhash64(F.col(column)).alias("h1"),
        F.xxhash64(F.lit(_H2_TAG), F.col(column)).alias("h2"),
    ]


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """k bit positions per row (Kirsch-Mitzenmacher), flattened uint64."""
    a = h1.astype(np.uint64, copy=False)
    b = h2.astype(np.uint64, copy=False) | np.uint64(1)  # odd stride
    i = np.arange(k, dtype=np.uint64)
    return ((a[:, None] + i[None, :] * b[:, None]) % np.uint64(m)).ravel()


def _set_bits(bm: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(
        bm, (pos >> np.uint64(3)).astype(np.int64),
        (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
    )


def _test_bits(bm: np.ndarray, pos: np.ndarray) -> bool:
    byte = bm[(pos >> np.uint64(3)).astype(np.int64)]
    bit = (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8)
    return bool(np.all(byte & bit))


def _index_path(root: str, column: str) -> str:
    return os.path.join(root, _BLOOM_DIR, f"index-{column}.json")


def build_bloom_index(
    table: Table,
    column: str,
    snapshot_id: int | None = None,
    fpp: float = _DEFAULT_FPP,
    max_bits: int = _DEFAULT_MAX_BITS,
    incremental: bool = False,
) -> dict:
    """Build + register the per-file Bloom index for `column` at a snapshot
    (current by default). Replaces any prior index for the column. Returns
    the index descriptor (shard paths, per-file sizing, timings).

    ``incremental=True`` is the O(delta) maintenance path: bitmaps are per
    FILE and data files are immutable, so files the prior index already
    covers keep their bitmaps — the prior shards are re-referenced as-is
    (entries for files no longer live are dead weight the lookup ignores;
    the next full rebuild sheds them) and only UNCOVERED live files are
    scanned. After an append of 1% new files the build reads 1% of the
    table; after a full compaction every file is new and the incremental
    path naturally degrades to the full one. Requires the same fpp AND
    max_bits as the prior index (a change in either forces a full rebuild —
    mixed sizing inside one index would make its fpp claim meaningless)."""
    table.refresh()
    if snapshot_id is None:
        snapshot_id = table.current_snapshot_id
    if snapshot_id is None:
        raise ValueError("build_bloom_index: table has no snapshot")
    if column not in {f.name for f in table.schema.fields}:
        raise ValueError(f"build_bloom_index: no such column {column!r}")

    io = table.io
    prior = _load_index(table, column)
    keep_shards: list[str] = []
    covered: set[str] = set()
    if (
        incremental
        and prior is not None
        and prior.get("fpp") == fpp
        and prior.get("max_bits") == max_bits
    ):
        # files both live now and covered then keep their bitmaps
        live_now = {
            e.file_path
            for e in table.entries(snapshot_id)
            if e.content == DATA
        }
        try:
            prior_files = {
                e.file_path
                for e in table.entries(prior["snapshot_id"])
                if e.content == DATA
            }
        except Exception:  # prior snapshot expired → full rebuild
            prior_files = set()
        covered = live_now & prior_files
        if covered:
            keep_shards = list(prior.get("shards", []))

    entries = [
        e
        for e in table.entries(snapshot_id)
        if e.content == DATA and e.file_path not in covered
    ]
    # abs path (what input_file_name yields) → (m, k, manifest key)
    params: dict[str, tuple[int, int, str]] = {}
    for e in entries:
        m, k = _size_bloom(e.record_count, fpp, max_bits)
        params[os.path.abspath(table._abs(e.file_path))] = (m, k, e.file_path)

    out: dict[str, Any] = {
        "column": column,
        "snapshot_id": snapshot_id,
        "fpp": fpp,
        "max_bits": max_bits,
        "algo": _ALGO,
        "created_ms": int(time.time() * 1000),
        "n_files": len(params) + len(covered),
        "n_files_built": len(params),
        "shards": keep_shards,
    }
    io.makedirs(os.path.join(table.root, _BLOOM_DIR))

    if params:
        # read the RAW files, not the delete-reconciled scan: a bitmap is a
        # property of the FILE's contents. Hashing the reconciled view
        # would drop deleted keys from the bitmap, and a later lookup at an
        # earlier snapshot (time travel, rollback) — where those rows are
        # NOT deleted — would then false-negative. Raw contents can only
        # over-include (deleted keys stay set → false positive → the
        # re-applied predicate discards them), which is the safe direction.
        hashed = (
            table.spark.read.schema(table.schema)
            .parquet(*params.keys())
            .select(uri_path(F.input_file_name()).alias("f"), F.col(column))
            .filter(F.col(column).isNotNull())
            .select("f", *_hash_cols(column))
        )
        bparams = table.spark.sparkContext.broadcast(params)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            p = bparams.value
            acc: dict[str, np.ndarray] = {}
            held = 0

            def drain():
                nonlocal acc, held
                if acc:
                    yield pd.DataFrame(
                        {
                            "file": list(acc),
                            "bits": [bm.tobytes() for bm in acc.values()],
                        }
                    )
                acc, held = {}, 0

            for b in batches:
                for absf, g in b.groupby("f", sort=False):
                    m, k, key = p[os.path.abspath(absf)]
                    bm = acc.get(key)
                    if bm is None:
                        bm = acc[key] = np.zeros(m >> 3, dtype=np.uint8)
                        held += m >> 3
                    _set_bits(
                        bm,
                        _positions(
                            g["h1"].to_numpy(np.int64),
                            g["h2"].to_numpy(np.int64),
                            m,
                            k,
                        ),
                    )
                if held > _KERNEL_FLUSH_BYTES:
                    yield from drain()
            yield from drain()

        def or_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            arrs = [np.frombuffer(x, dtype=np.uint8) for x in pdf["bits"]]
            merged = arrs[0].copy()
            for a in arrs[1:]:
                merged |= a
            return pd.DataFrame(
                {"file": [pdf["file"].iloc[0]], "bits": [merged.tobytes()]}
            )

        schema = "file string, bits binary"
        reduced = (
            hashed.mapInPandas(partials, schema)
            .groupBy("file")
            .applyInPandas(or_reduce, schema)
        )

        sizing = {key: (m, k) for (m, k, key) in params.values()}
        shard_files: dict[str, dict] = {}
        empty = set(sizing)  # files whose rows are all-NULL never reach us
        for row in reduced.toLocalIterator():
            m, k = sizing[row["file"]]
            empty.discard(row["file"])
            shard_files[row["file"]] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(row["bits"])).decode("ascii"),
            }
            if len(shard_files) >= _SHARD_FILES:
                out["shards"].append(_write_shard(table, column, shard_files))
                shard_files = {}
        for key in sorted(empty):  # all-NULL file: bitmap of zeros, prunes all
            m, k = sizing[key]
            shard_files[key] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(m >> 3)).decode("ascii"),
            }
            if len(shard_files) >= _SHARD_FILES:
                out["shards"].append(_write_shard(table, column, shard_files))
                shard_files = {}
        if shard_files:
            out["shards"].append(_write_shard(table, column, shard_files))

    io.write_text_atomic(_index_path(table.root, column), json.dumps(out, sort_keys=True))
    # sweep every shard for THIS column the new index does not reference:
    # superseded shards from the replaced index (set_statistics discipline)
    # AND orphans from builds that died between shard writes and the index
    # write. Bloom builds follow the engine's one-maintainer-per-table
    # convention (like compaction), so nothing else is mid-write here.
    import re as _re

    refd = {os.path.basename(p) for p in out["shards"]}
    # exact shard-name shape (uuid hex tail) so one column's sweep can
    # never match another column whose name extends it ("a" vs "a-b")
    pat = _re.compile(
        rf"bloom-{_re.escape(column)}-[0-9a-f]{{32}}\.json\Z"
    )
    try:
        stale = [
            os.path.join(table.root, _BLOOM_DIR, name)
            for name in io.list_dir(os.path.join(table.root, _BLOOM_DIR))
            if pat.fullmatch(name) and name not in refd
        ]
        if stale:
            io.remove_many(stale)
    except OSError:
        pass  # best effort; unreferenced shards are harmless until swept
    return out


def _write_shard(table: Table, column: str, files: dict[str, dict]) -> str:
    rel = os.path.join(_BLOOM_DIR, f"bloom-{column}-{uuid.uuid4().hex}.json")
    table.io.write_text_atomic(
        os.path.join(table.root, rel), json.dumps({"files": files}, sort_keys=True)
    )
    return rel


def _load_index(table: Table, column: str) -> dict | None:
    try:
        return json.loads(table.io.read_text(_index_path(table.root, column)))
    except (OSError, ValueError):
        return None


# ---- driver-side XXH64, bit-identical to Spark's xxhash64 expression ----
# Lookups must be interactive: a Spark job just to hash a handful of probe
# values costs seconds of scheduling for microseconds of work. XXH64 is a
# public, fully-specified algorithm; this implementation reproduces
# Spark's XxHash64 expression exactly (seed 42, per-argument chaining:
# each argument's hash seeds the next; longs as 8-byte little-endian
# two's-complement lanes, strings/binary as their raw bytes) and is
# property-tested bit-for-bit against F.xxhash64 over random inputs,
# covering every length-class branch (tests/test_bloom.py).

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            k = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl((v1 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl((v2 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl((v3 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl((v4 + k * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1
                 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h = (
            _rotl(h ^ ((_rotl((k * _P2) & _M64, 31) * _P1) & _M64), 27)
            * _P1
            + _P4
        ) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl(h ^ ((k * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# lane widths per Spark type: XxHash64 hashes int/short/byte/date/boolean
# through XXH64.hashInt (a 4-BYTE little-endian lane), long/timestamp
# through hashLong (8 bytes), float as hashInt(floatToIntBits) and double
# as hashLong(doubleToLongBits) with negative zero normalized; strings and
# binary hash their raw bytes. Getting the lane width wrong makes probe
# hashes silently disagree with build hashes — reviewed-and-fixed once,
# and pinned per type against F.xxhash64 in tests/test_bloom.py.
_4BYTE_TYPES = {"int", "smallint", "tinyint", "date", "boolean"}
_8BYTE_TYPES = {"bigint", "long"}


def _spark_serialize(v: Any, dtype: str) -> bytes:
    """The exact byte lane Spark's XxHash64 hashes for a value of the
    column's Spark type (`dtype` = DataType.simpleString())."""
    import struct

    if dtype == "string":
        if not isinstance(v, str):
            raise TypeError(f"string column probe must be str, got {type(v).__name__}")
        return v.encode("utf-8")
    if dtype == "binary":
        return bytes(v)
    if dtype == "boolean":
        return (1 if v else 0).to_bytes(4, "little")
    if dtype == "date":
        import datetime as _dt

        if not isinstance(v, _dt.date):
            raise TypeError("date column probe must be a datetime.date")
        days = (v - _dt.date(1970, 1, 1)).days
        return (days & 0xFFFFFFFF).to_bytes(4, "little")
    if dtype in _4BYTE_TYPES:
        return (int(v) & 0xFFFFFFFF).to_bytes(4, "little")
    if dtype in _8BYTE_TYPES:
        return int(v).to_bytes(8, "little", signed=True)
    if dtype == "float":
        f = 0.0 if v == 0 else float(v)  # -0.0f normalized like Spark
        return struct.pack("<f", f)
    if dtype == "double":
        d = 0.0 if v == 0 else float(v)
        return struct.pack("<d", d)
    raise TypeError(
        f"bloom probes on {dtype!r} columns are not supported "
        "(string/binary/int/smallint/tinyint/bigint/boolean/date/"
        "float/double)"
    )


def _xxhash64_chain(lanes: Sequence[bytes], seed: int = 42) -> int:
    """Spark's xxhash64(a, b, ...): each argument's hash seeds the next;
    returns the signed int64 Spark reports."""
    h = seed
    for lane in lanes:
        h = _xxh64(lane, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def _probe_hashes(table: Table, column: str, values: Sequence[Any]) -> np.ndarray:
    """(len(values), 2) int64 [h1, h2] — driver-side XXH64, bit-identical
    to the JVM expressions the build used (property-pinned per type in
    tests); no Spark job, so lookups stay interactive."""
    dtype = next(
        f.dataType.simpleString()
        for f in table.schema.fields
        if f.name == column
    )
    tag = _H2_TAG.encode("utf-8")
    out = []
    for v in values:
        lane = _spark_serialize(v, dtype)
        out.append(
            [_xxhash64_chain([lane]), _xxhash64_chain([tag, lane])]
        )
    return np.array(out, dtype=np.int64)


def bloom_file_filter(
    table: Table,
    column: str,
    values: Sequence[Any],
    snapshot_id: int | None = None,
) -> set[str] | None:
    """Candidate data-file set for an equality/IN lookup, or None when no
    index exists for the column (callers then scan unpruned). Files the
    index does not cover are always included; a covered file survives iff
    its bitmap admits at least one probe value."""
    table.refresh()
    if snapshot_id is None:
        snapshot_id = table.current_snapshot_id
    idx = _load_index(table, column)
    if idx is None:
        return None
    vals = [v for v in values if v is not None]
    if not vals:
        return set()  # NULL never equals anything; no file can match
    hashes = _probe_hashes(table, column, vals)
    live = {
        e.file_path
        for e in table.entries(snapshot_id)
        if e.content == DATA
    }

    # stream the shards one at a time — driver memory stays O(shard), not
    # O(index), no matter how many files the table holds
    keep: set[str] = set()
    seen_covered: set[str] = set()
    for rel in idx.get("shards", []):
        try:
            shard = json.loads(table.io.read_text(os.path.join(table.root, rel)))
        except (OSError, ValueError):
            return None  # damaged sidecar: fail open, scan everything
        for fp, meta in shard["files"].items():
            if fp not in live or fp in seen_covered:
                continue  # dead entry on a reused shard, or duplicate
            seen_covered.add(fp)
            bm = np.frombuffer(
                base64.b64decode(meta["bits"]), dtype=np.uint8
            )
            for h1, h2 in hashes:
                if _test_bits(
                    bm,
                    _positions(
                        np.array([h1], np.int64), np.array([h2], np.int64),
                        meta["m"], meta["k"],
                    ),
                ):
                    keep.add(fp)
                    break
    # files the index does not cover (post-build appends) are always kept
    keep |= live - seen_covered
    return keep


def point_lookup(
    table: Table,
    column: str,
    values: Sequence[Any],
    snapshot_id: int | None = None,
    columns: list[str] | None = None,
    file_filter: set[str] | None = None,
) -> DataFrame:
    """Equality/IN read through the Bloom index: scan only candidate files,
    re-apply the real predicate (correctness never rests on the index).
    Pass ``file_filter`` to reuse a candidate set already computed by
    ``bloom_file_filter`` (callers that also report it) instead of
    streaming the shards a second time."""
    ff = (
        file_filter
        if file_filter is not None
        else bloom_file_filter(table, column, values, snapshot_id=snapshot_id)
    )
    df = table.scan(
        snapshot_id=snapshot_id, columns=columns, file_filter=ff
    )
    vals = [v for v in values if v is not None]
    return df.filter(F.col(column).isin(vals) if vals else F.lit(False))
