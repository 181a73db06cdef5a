"""Partition-spec transforms: identity/bucket/truncate/year/month/day/hour —
the reference's full transform vocabulary (IcebergUtil.java:154-198,
iceberg_utils.go:146-167)."""

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)

from olake_spark.icelite import PartitionField, PartitionSpec, Table

EVENTS = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts", TimestampType()),
        StructField("name", StringType()),
    ]
)


def _df(spark, n=100):
    return spark.range(n).select(
        F.col("id"),
        F.expr(
            "timestampadd(HOUR, cast(id as int), TIMESTAMP '2026-03-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
    )


class TestTransforms:
    def test_day_partitioning_routes_and_prunes(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "days"), EVENTS,
            PartitionSpec((PartitionField("ts", "day"),)),
        )
        t.append(_df(spark, 96))  # 4 days of hourly rows
        parts = {
            e.partition["_p_ts_day"] for e in t.entries() if e.content == 0
        }
        assert parts == {"2026-03-01", "2026-03-02", "2026-03-03", "2026-03-04"}
        one_day = t.scan(with_partition_cols=True).filter(
            F.col("_p_ts_day") == "2026-03-02"
        )
        assert one_day.count() == 24

    def test_hour_month_year_values(self, spark, tmp_table_dir):
        for transform, expected_first in (
            ("hour", "2026-03-01-00"),
            ("month", "2026-03"),
            ("year", "2026"),
        ):
            t = Table.create(
                spark,
                os.path.join(tmp_table_dir, f"tr-{transform}"),
                EVENTS,
                PartitionSpec((PartitionField("ts", transform),)),
            )
            t.append(_df(spark, 3))
            parts = sorted(
                str(e.partition[f"_p_ts_{transform}"])
                for e in t.entries() if e.content == 0
            )
            assert parts[0] == expected_first

    def test_truncate_string_and_int(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "trunc"), EVENTS,
            PartitionSpec((PartitionField("id", "truncate", 50),)),
        )
        t.append(_df(spark, 100))
        parts = {e.partition["_p_id_truncate50"] for e in t.entries() if e.content == 0}
        assert parts == {"0", "50"}
        assert t.scan(with_partition_cols=True).filter(
            F.col("_p_id_truncate50") == "50"
        ).count() == 50


class TestSpecEvolution:
    """Partition spec evolution (Iceberg updateSpec): old-layout files stay
    live, new writes route to the new layout, scans are layout-independent,
    and maintenance rewrites migrate old files to the current spec."""

    def _table(self, spark, tmp_table_dir):
        t = Table.create(
            spark, os.path.join(tmp_table_dir, "evo"), EVENTS,
            PartitionSpec((PartitionField("id", "bucket", 4),)),
        )
        t.append(_df(spark, 50))
        return t

    def test_scan_spans_both_layouts(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t.update_spec(PartitionSpec((PartitionField("ts", "day"),)))
        t.append(
            _df(spark, 100).filter("id >= 50")
        )
        ids = {r["id"] for r in t.scan(columns=["id"]).collect()}
        assert ids == set(range(100))
        # mixed directory shapes on disk: data/<write job>/<partition>/file
        dirs = {
            e.file_path.split("/")[2].split("=")[0]
            for e in t.entries() if e.content == 0
        }
        assert dirs == {"_p_id_bucket4", "_p_ts_day"}

    def test_partition_cols_recomputed_under_current_spec(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t.update_spec(PartitionSpec((PartitionField("ts", "day"),)))
        rows = t.scan(columns=["id"], with_partition_cols=True).collect()
        # every row — including old-layout files — carries the CURRENT
        # spec's partition value, recomputed from row values
        assert set(rows[0].asDict()) == {"id", "_p_ts_day"}
        for r in rows:
            assert r["_p_ts_day"] == f"2026-03-{1 + r['id'] // 24:02d}"

    def test_rewrite_migrates_to_current_spec(self, spark, tmp_table_dir):
        from olake_spark.operators.compact import run_compaction

        t = self._table(spark, tmp_table_dir)
        t.update_spec(PartitionSpec((PartitionField("ts", "day"),)))
        run_compaction(t, "evo-compact", fill_ratio=1.0)
        parts = {
            tuple(sorted(e.partition)) for e in t.entries() if e.content == 0
        }
        assert parts == {("_p_ts_day",)}
        assert {r["id"] for r in t.scan(columns=["id"]).collect()} == set(range(50))

    def test_history_and_validation(self, spark, tmp_table_dir):
        import pytest

        t = self._table(spark, tmp_table_dir)
        old = t.spec.to_json()
        t.update_spec(PartitionSpec((PartitionField("name", "truncate", 5),)))
        assert t.meta["partition_spec_history"] == [old]
        with pytest.raises(ValueError, match="not in schema"):
            t.update_spec(PartitionSpec((PartitionField("nope", "identity"),)))
        with pytest.raises(ValueError, match="unknown transform"):
            t.update_spec(PartitionSpec((PartitionField("id", "zalgo"),)))

    def test_deletes_cross_spec_boundary(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t.update_spec(PartitionSpec((PartitionField("ts", "day"),)))
        t.append(_df(spark, 100).filter("id >= 50"))
        # positional delete spans files from BOTH layouts
        t.delete_where("id % 10 = 0")
        ids = {r["id"] for r in t.scan(columns=["id"]).collect()}
        assert ids == {i for i in range(100) if i % 10}
