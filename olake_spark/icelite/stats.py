"""Per-file column statistics from Parquet footers (no data read).

Manifests carry per-file min/max/null-count per column — the analogue of the
stats Iceberg's GenericAppenderFactory emits into manifests
(IcebergUtil.java:234-253). We harvest them from Parquet row-group footers:
metadata-only I/O, a few KB per file. For large commits the harvest is
distributed over executors via an RDD map (driver never becomes the
bottleneck at 10^12-row scale); small commits take the driver fast path.

Binary columns carry no bounds, and since data files are written without
parquet statistics on them (`unstated_columns`) they carry no null count
either: a manifest entry has no `mins` / `maxs` / `null_counts` key for a
top-level binary column, and an Iceberg export no `null_value_counts` entry.
Pruning reads only mins/maxs (`table._may_match`) and `analyze_table` counts
nulls from the data, so no reader loses anything.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

_DISTRIBUTE_THRESHOLD = 512  # files; above this, harvest on executors


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


def footer_stats(path: str) -> dict:
    """Stats for one parquet file: rows, bytes, per-column min/max/nulls."""
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
    }


def collect_file_stats(spark, paths: list[str]) -> dict[str, dict]:
    """Harvest footer stats for many files; a driver thread pool below the
    threshold (footer reads release the GIL in pyarrow), an executor RDD
    above it (one Spark job beats thousands of driver reads, but loses to
    a local pool for small batches because of scheduling latency)."""
    if len(paths) <= _DISTRIBUTE_THRESHOLD:
        if len(paths) <= 8:
            return {p: footer_stats(p) for p in paths}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return dict(zip(paths, ex.map(footer_stats, paths)))
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths) // 8, sc.defaultParallelism * 4))
    pairs = (
        sc.parallelize(paths, n_slices)
        .map(lambda p: (p, footer_stats(p)))
        .collect()
    )
    return dict(pairs)
