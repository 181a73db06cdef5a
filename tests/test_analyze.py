"""analyze_table (Iceberg computeTableStats / Puffin parity) tests.

The oracle gate (`analyze_table_stats`) proves the exact path against
DuckDB and pins HLL tolerance in-gate; these tests pin the registration
life-cycle: per-snapshot binding, supersede-on-reanalyze, stale-latest
fallback, expire pruning the pointer AND the file, and binary columns
getting NDV/nulls but no bounds.
"""

import os

import pytest

from olake_spark import datagen
from olake_spark.icelite import PartitionSpec, Table
from olake_spark.operators.analyze import analyze_table, column_stats_df

N = 150


@pytest.fixture()
def table(spark, tmp_table_dir):
    t = Table.create(
        spark,
        os.path.join(tmp_table_dir, "images"),
        datagen.IMAGES_SCHEMA,
        PartitionSpec(()),
        identifier_fields=("image_id",),
    )
    t.append(datagen.gen_images_df(spark, N))
    return t


def _stats_files(t):
    return sorted(
        p for p, _ in t.io.walk_files(os.path.join(t.root, "metadata", "stats"))
    )


class TestAnalyze:
    def test_exact_and_bounds(self, table):
        entry = analyze_table(table, ["image_id", "w"], exact=True)
        assert entry["row_count"] == N
        assert entry["columns"]["image_id"]["ndv"] == N
        assert entry["columns"]["image_id"]["null_count"] == 0
        lo = table.scan(columns=["w"]).agg({"w": "min"}).first()[0]
        assert entry["columns"]["w"]["min"] == str(lo)

    def test_binary_gets_ndv_but_no_bounds(self, table):
        entry = analyze_table(table, ["bytes"], exact=True)
        s = entry["columns"]["bytes"]
        assert s["ndv"] > 0 and s["min"] is None and s["max"] is None

    def test_hll_within_tolerance(self, table):
        ex = analyze_table(table, ["image_id"], exact=True)
        ap = analyze_table(table, ["image_id"], rsd=0.02)
        e, a = (
            ex["columns"]["image_id"]["ndv"],
            ap["columns"]["image_id"]["ndv"],
        )
        assert abs(a - e) <= max(4, 0.08 * e)

    def test_supersede_keeps_one_entry_and_file(self, table):
        analyze_table(table, ["w"])
        analyze_table(table, ["w", "h"], exact=True)
        table.refresh()
        assert len(table.meta["statistics"]) == 1
        assert len(_stats_files(table)) == 1
        got = table.get_statistics()
        assert set(got["columns"]) == {"w", "h"}
        assert got["mode"] == "exact"

    def test_stats_bind_to_snapshot_with_stale_fallback(self, table, spark):
        snap0 = table.current_snapshot_id
        analyze_table(table, ["w"])
        table.append(datagen.gen_images_df(spark, 10))
        # exact-snapshot ask for the new head: nothing registered
        assert table.get_statistics(table.current_snapshot_id) is None
        # no-id ask falls back to the newest (stale) entry
        got = table.get_statistics()
        assert got["snapshot_id"] == snap0
        df = column_stats_df(table)
        assert df.filter(df.snapshot_id == snap0).count() == df.count()

    def test_expire_prunes_pointer_and_file(self, table, spark):
        analyze_table(table, ["w"])
        table.append(datagen.gen_images_df(spark, 10))
        analyze_table(table, ["h"])
        assert len(_stats_files(table)) == 2
        table.expire_snapshots(keep_last=1)
        table.refresh()
        assert [e["snapshot_id"] for e in table.meta["statistics"]] == [
            table.current_snapshot_id
        ]
        assert len(_stats_files(table)) == 1

    def test_expired_snapshot_refused(self, table, spark):
        snap0 = table.current_snapshot_id
        table.append(datagen.gen_images_df(spark, 10))
        table.expire_snapshots(keep_last=1)
        with pytest.raises(KeyError, match="not retained"):
            table.set_statistics(
                {"snapshot_id": snap0, "row_count": 0, "columns": {},
                 "created_ms": 1}
            )
        # the stats file written ahead of the refused commit is cleaned up
        assert _stats_files(table) == []
