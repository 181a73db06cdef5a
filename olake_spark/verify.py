"""Post-maintenance verification against the reference's sync-output oracle.

BASELINE.json input_hint: "per-row invariant vs the reference: decoded-pixel
allclose (PSNR≥40dB for lossy) + caption equality" — the reference itself
defines correctness as an Iceberg scan through Spark
(drivers/abstract/test_utils.go:194-228, COUNT(DISTINCT _olake_id)).

Three checks, all distributed (no driver-side row loops):

- `row_sets_equal`: exceptAll both ways is empty — exact row-set equality of
  two scans (maintenance ops must be row-preserving).
- `verify_pixels`: decode `bytes` per row inside a vectorized mapInPandas
  batch, compare against the deterministic generator oracle
  (datagen.expected_pixels): PNG must be bit-exact (PSNR=inf), lossy must
  reach ≥40 dB. Returns per-row pass/fail aggregated Spark-side.
- `distinct_key_count`: the reference's own COUNT(DISTINCT id) oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, StringType,
                               StructField, StructType)

from olake_spark.functions.imagecodec import decode_image, psnr

PSNR_LOSSY_MIN = 40.0

_VERIFY_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("fmt", StringType()),
        StructField("psnr_db", DoubleType()),
        StructField("pixels_ok", BooleanType()),
        StructField("caption_ok", BooleanType()),
    ]
)


def row_sets_equal(a: DataFrame, b: DataFrame, columns: list[str] | None = None) -> bool:
    cols = columns or a.columns
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def distinct_key_count(df: DataFrame, key: str = "image_id") -> int:
    return df.select(F.countDistinct(key).alias("n")).collect()[0]["n"]


def verify_pixels(df: DataFrame, bench: bool = False) -> DataFrame:
    """Per-row decode + PSNR vs the generator oracle; returns a verification
    DataFrame — aggregate with `.filter(~pixels_ok)` / `min(psnr_db)`."""
    from olake_spark.datagen import _caption, expected_pixels

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for iid, raw, fmt, caption in zip(
                b["image_id"], b["bytes"], b["fmt"], b["caption"]
            ):
                i = int(iid.split("-")[-1])
                ref = expected_pixels(i, bench)
                got = decode_image(bytes(raw))
                db = psnr(ref, got)
                ok = db == float("inf") if fmt == "png" else db >= PSNR_LOSSY_MIN
                # post-merge captions may carry an "updated N: " prefix — the
                # byte-exact generated caption must appear intact
                cap_ref = _caption(i)
                cap_ok = caption is not None and cap_ref in caption
                out.append(
                    {
                        "image_id": iid,
                        "fmt": fmt,
                        "psnr_db": db if db != float("inf") else 99.0,
                        "pixels_ok": bool(ok),
                        "caption_ok": bool(cap_ok),
                    }
                )
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes", "fmt", "caption").mapInPandas(
        check, _VERIFY_SCHEMA
    )


def inline_pixel_check(df: DataFrame) -> DataFrame:
    """Pass-through verification stage for rewrite pipelines: decode every
    image and fail the task if the payload is corrupt or the dimensions
    disagree with (w, h). Rows stream through unchanged, so this
    composes inside compaction/clustering writes — the north star's
    "correctness verified against decoded pixels" applied *during*
    maintenance instead of as a separate scan."""
    schema = df.schema

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for raw, w, h in zip(b["bytes"], b["w"], b["h"]):
                if raw is None:
                    continue
                arr = decode_image(bytes(raw))
                if arr.shape[0] != int(h) or arr.shape[1] != int(w):
                    raise ValueError(
                        f"decoded shape {arr.shape[:2]} != ({h}, {w})"
                    )
            yield b

    return df.mapInPandas(check, schema)


def verify_table_scan(df: DataFrame, bench: bool = False) -> dict:
    """One-shot verification summary for a scan of the images table."""
    v = verify_pixels(df, bench)
    agg = v.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(~F.col("pixels_ok"), 1).otherwise(0)).alias("pixel_failures"),
        F.sum(F.when(~F.col("caption_ok"), 1).otherwise(0)).alias("caption_failures"),
        F.min("psnr_db").alias("min_psnr_db"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "pixel_failures": agg["pixel_failures"] or 0,
        "caption_failures": agg["caption_failures"] or 0,
        "min_psnr_db": agg["min_psnr_db"],
    }
