"""Per-file column statistics: Parquet footers, plus integer-column ranges.

Manifests carry per-file min/max/null-count per column — the analogue of the
stats Iceberg's GenericAppenderFactory emits into manifests
(IcebergUtil.java:234-253). We harvest them from Parquet row-group footers:
metadata-only I/O, a few KB per file. For large commits the harvest is
distributed over executors via an RDD map (driver never becomes the
bottleneck at 10^12-row scale); small commits take the driver fast path.

A data file's harvest (`ranges=True`) also READS its top-level integral
columns (byte, short, int, long) and keeps each one's distinct values as at
most `MAX_RANGES` disjoint closed intervals, cut at the widest gaps
(PostgreSQL's BRIN `minmax-multi`: 16 intervals = its default 32
`values_per_range`). A file with at most `MAX_RANGES` distinct values keeps
them exactly, and a run of consecutive integers is one interval. One
`[min, max]` per file prunes nothing on a column whose values arrive
unclustered (CDC batches, appends between clusterings); the intervals skip
a file whose values leave the queried range in a gap. A column whose
summary is one interval is left out: it says no more than its min and max.
Summaries are packed little-endian int64 endpoints `[lo0, hi0, lo1, hi1, …]`
(`pack_ranges` / `unpack_ranges`), one binary value per column in the
manifest's `ranges` map. `Table._write_job` asks for them on every data file
it writes (append, MERGE, compaction, cluster rewrite, backfill);
`add_files` (footer reads only), the streaming sink and the maintenance log
register files without them.

Binary columns carry no bounds, and since data files are written without
parquet statistics on them (`unstated_columns`) they carry no null count
either: a manifest entry has no `mins` / `maxs` / `null_counts` key for a
top-level binary column, and an Iceberg export no `null_value_counts` entry.
Pruning reads only mins/maxs and ranges (`table._may_match`) and
`analyze_table` counts nulls from the data, so no reader loses anything.
"""

from __future__ import annotations

import datetime as _dt
import functools
import os
import struct
from typing import Any

_DISTRIBUTE_THRESHOLD = 512  # files; above this, harvest on executors

# intervals per integral column per data file (PostgreSQL's default
# minmax-multi `values_per_range` of 32 is 16 intervals)
MAX_RANGES = 16


def unstated_columns(schema) -> list[str]:
    """Top-level columns a data file is written WITHOUT parquet statistics:
    the binary ones. A binary bound is never harvested (`_encode`), yet a
    parquet writer stores the full min and max value in every row group's
    footer (parquet-mr caps each at 4 KB) — on an image table, two image
    payloads per footer that every later footer read pays for. `schema` is
    the Spark StructType being written."""
    from pyspark.sql.types import BinaryType

    return [f.name for f in schema.fields if isinstance(f.dataType, BinaryType)]


def _encode(v: Any) -> Any:
    """JSON-encodable canonical form for a stat value."""
    if isinstance(v, bytes):
        # no binary bounds: data files are written without them
        # (`unstated_columns`); a file from elsewhere (add_files) may have
        # them, and they are dropped here
        return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, float) and (v != v):  # NaN
        return None
    return v


def pack_ranges(intervals: list[tuple[int, int]]) -> bytes:
    """Closed intervals as little-endian int64 endpoints lo0, hi0, lo1, …"""
    flat = [v for iv in intervals for v in iv]
    return struct.pack(f"<{len(flat)}q", *flat)


def unpack_ranges(packed: bytes) -> list[tuple[int, int]]:
    flat = struct.unpack(f"<{len(packed) // 8}q", packed)
    return list(zip(flat[0::2], flat[1::2]))


def value_ranges(values) -> list[tuple[int, int]]:
    """Distinct integers as at most MAX_RANGES disjoint closed intervals,
    sorted. Adjacent integers share an interval (no integer lies between
    them); the other gaps are cut, the MAX_RANGES - 1 widest of them when
    there are more (a tie goes to the later gap). At most MAX_RANGES
    distinct values stay exact."""
    import numpy as np

    v = np.unique(np.asarray(values, dtype=np.int64))
    if not len(v):
        return []
    # the difference of two int64 can overflow int64, never uint64
    u = v.astype(np.uint64)
    gaps = u[1:] - u[:-1]
    cuts = np.flatnonzero(gaps > 1)
    if len(cuts) >= MAX_RANGES:
        widest = np.argsort(gaps[cuts], kind="stable")[-(MAX_RANGES - 1):]
        cuts = np.sort(cuts[widest])
    los = np.concatenate([v[:1], v[cuts + 1]])
    his = np.concatenate([v[cuts], v[-1:]])
    return [(int(lo), int(hi)) for lo, hi in zip(los, his)]


def _file_ranges(pf) -> dict[str, bytes]:
    """Packed intervals of a parquet file's top-level signed integer
    columns, except those whose values form a single interval."""
    import pyarrow.types as pt

    cols = [f.name for f in pf.schema_arrow if pt.is_signed_integer(f.type)]
    if not cols:
        return {}
    t = pf.read(columns=cols)
    out = {}
    for name in cols:
        ivs = value_ranges(t.column(name).drop_null().to_numpy())
        if len(ivs) > 1:
            out[name] = pack_ranges(ivs)
    return out


def footer_stats(path: str, ranges: bool = False) -> dict:
    """Stats for one parquet file: rows, bytes, per-column min/max/nulls,
    and with `ranges` the integral columns' packed intervals (a data read
    of those columns)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    schema = md.schema
    ncols = len(schema)
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(ncols):
            col = g.column(i)
            name = schema.column(i).name
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st.has_min_max:
                try:
                    mn, mx = _encode(st.min), _encode(st.max)
                except NotImplementedError:
                    # pyarrow cannot cast statistics for some logical types
                    # (e.g. decimal) — a column without harvested bounds is
                    # merely un-prunable, never a write failure
                    continue
                if mn is not None and (name not in mins or mn < mins[name]):
                    mins[name] = mn
                if mx is not None and (name not in maxs or mx > maxs[name]):
                    maxs[name] = mx
    return {
        "record_count": md.num_rows,
        "file_size_bytes": os.path.getsize(path),
        "mins": mins,
        "maxs": maxs,
        "null_counts": nulls,
        "ranges": _file_ranges(pf) if ranges else {},
    }


def collect_file_stats(
    spark, paths: list[str], ranges: bool = False
) -> dict[str, dict]:
    """Harvest footer stats (and with `ranges`, integer ranges: data files
    only) for many files; a driver thread pool below the threshold (pyarrow
    reads release the GIL), an executor RDD above it (one Spark job beats
    thousands of driver reads, but loses to a local pool for small batches
    because of scheduling latency)."""
    harvest = functools.partial(footer_stats, ranges=ranges)
    if len(paths) <= _DISTRIBUTE_THRESHOLD:
        if len(paths) <= 8:
            return {p: harvest(p) for p in paths}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return dict(zip(paths, ex.map(harvest, paths)))
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths) // 8, sc.defaultParallelism * 4))
    pairs = (
        sc.parallelize(paths, n_slices)
        .map(lambda p: (p, harvest(p)))
        .collect()
    )
    return dict(pairs)
