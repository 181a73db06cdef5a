"""Vectorized Z-order (Morton) and Hilbert-curve sort keys.

The reference sorts write batches by a partition comparator so the writer
holds one open file at a time (IcebergTableOperator.java:303-344, the
"Clustered Writer way"). Our clustering generalizes that hook: compute a
space-filling-curve key over (phash, w, h), cut each table partition into
equal-frequency key ranges (+ salt on hot ranges), ``repartitionById`` on the
range id, ``sortWithinPartitions(zkey)``, rewrite — per BASELINE.json
north_star ("bit-interleaved keys computed in vectorized Arrow
UDFs").

All kernels are numpy-vectorized over whole Arrow batches; nothing here is
per-row Python. Hilbert uses Skilling's transpose algorithm (public domain,
"Programming the Hilbert curve", AIP Conf. Proc. 707, 2004), vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

BITS_3D = 21  # 3 dims × 21 bits = 63 bits → non-negative int64


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits of each uint64 so consecutive bits land 3 apart."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def interleave3(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Morton-interleave three 21-bit values; `a` takes the MSB of each triple."""
    return (
        (_spread3(a) << np.uint64(2)) | (_spread3(b) << np.uint64(1)) | _spread3(c)
    )


def _spread2(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def interleave2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (_spread2(a) << np.uint64(1)) | _spread2(b)


def normalize_u64(v: np.ndarray, lo: float, hi: float, bits: int) -> np.ndarray:
    """Linearly map values in [lo, hi] onto [0, 2^bits) as uint64 (clamped)."""
    span = max(hi - lo, 1e-300)
    scaled = (v.astype(np.float64) - lo) / span * float((1 << bits) - 1)
    return np.clip(np.rint(scaled), 0, (1 << bits) - 1).astype(np.uint64)


def phash_top_bits(phash: np.ndarray, bits: int) -> np.ndarray:
    """Top `bits` bits of a signed-int64 phash, as uint64 (order-preserving)."""
    u = phash.astype(np.int64).view(np.uint64) ^ np.uint64(1 << 63)
    return u >> np.uint64(64 - bits)


def hilbert_index(coords: np.ndarray, bits: int) -> np.ndarray:
    """Hilbert index for an (n_points, n_dims) uint64 array, `bits` per dim.

    Vectorized Skilling axes→transpose, then Morton interleave of the
    transpose (dim 0 most significant). Returns uint64.
    """
    x = [coords[:, i].astype(np.uint64) & np.uint64((1 << bits) - 1)
         for i in range(coords.shape[1])]
    n = len(x)
    m = np.uint64(1 << (bits - 1))
    # Inverse undo excess work
    q = m
    while q > np.uint64(1):
        p = q - np.uint64(1)
        for i in range(n):
            has = (x[i] & q) != 0
            # if bit set: invert low bits of x[0]; else swap low bits x[0]<->x[i]
            t = np.where(has, np.uint64(0), (x[0] ^ x[i]) & p)
            x[0] = np.where(has, x[0] ^ p, x[0] ^ t)
            if i != 0:
                x[i] = x[i] ^ t
        q >>= np.uint64(1)
    # Gray encode
    for i in range(1, n):
        x[i] = x[i] ^ x[i - 1]
    t = np.zeros_like(x[0])
    q = m
    while q > np.uint64(1):
        t = np.where((x[n - 1] & q) != 0, t ^ (q - np.uint64(1)), t)
        q >>= np.uint64(1)
    for i in range(n):
        x[i] = x[i] ^ t
    if n == 3:
        return interleave3(x[0], x[1], x[2]) if bits == 21 else _interleave_generic(x, bits)
    if n == 2:
        return interleave2(x[0], x[1]) if bits <= 32 else _interleave_generic(x, bits)
    return _interleave_generic(x, bits)


def _interleave_generic(x: list[np.ndarray], bits: int) -> np.ndarray:
    n = len(x)
    out = np.zeros_like(x[0])
    for j in range(bits - 1, -1, -1):  # MSB first
        for i in range(n):
            out = (out << np.uint64(1)) | ((x[i] >> np.uint64(j)) & np.uint64(1))
    return out


def _u64_to_i64(u: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 as int64 preserving order for values < 2^63."""
    return u.astype(np.int64)


def zorder_key_batch(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """Z-order key over (phash top-21 bits, w, h) — one Arrow batch."""
    a = phash_top_bits(phash.to_numpy(np.int64), BITS_3D)
    b = normalize_u64(w.to_numpy(np.float64), 0, 4096, BITS_3D)
    c = normalize_u64(h.to_numpy(np.float64), 0, 4096, BITS_3D)
    return pd.Series(_u64_to_i64(interleave3(a, b, c)))


def hilbert_key_batch(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    a = phash_top_bits(phash.to_numpy(np.int64), BITS_3D)
    b = normalize_u64(w.to_numpy(np.float64), 0, 4096, BITS_3D)
    c = normalize_u64(h.to_numpy(np.float64), 0, 4096, BITS_3D)
    coords = np.stack([a, b, c], axis=1)
    return pd.Series(_u64_to_i64(hilbert_index(coords, BITS_3D)))


def zorder_key_col(phash: Column, w: Column, h: Column) -> Column:
    # pandas_udf is created lazily: it needs an active session to parse DDL
    return pandas_udf(zorder_key_batch, "long")(phash, w, h)


def hilbert_key_col(phash: Column, w: Column, h: Column) -> Column:
    return pandas_udf(hilbert_key_batch, "long")(phash, w, h)


def zorder2_expr(a: Column, b: Column, bits: int = 16) -> Column:
    """Pure-Catalyst 2-D Morton interleave of two non-negative ints (low `bits`
    bits each) — JVM-side alternative to the UDF path, whole-stage-codegen'd.
    Used where the key is SQL-expressible so DuckDB can oracle it.
    """
    out = F.lit(0).cast("long")
    for j in range(bits - 1, -1, -1):
        out = (
            F.shiftleft(out, 2)
            | F.shiftleft(F.shiftright(a.cast("long"), j) & F.lit(1), 1)
            | (F.shiftright(b.cast("long"), j) & F.lit(1))
        )
    return out


def zorder2_sql(a: str, b: str, bits: int = 16) -> str:
    """ANSI-SQL text of :func:`zorder2_expr` (DuckDB-compatible oracle)."""
    expr = "CAST(0 AS BIGINT)"
    for j in range(bits - 1, -1, -1):
        expr = (
            f"(({expr}) * 4 + ((CAST({a} AS BIGINT) >> {j}) & 1) * 2"
            f" + ((CAST({b} AS BIGINT) >> {j}) & 1))"
        )
    return expr
