"""Per-file interval summaries on integral columns (BRIN minmax-multi).

Every data file's manifest entry carries, per top-level byte/short/int/long
column, the column's distinct values as at most 16 disjoint intervals
(`icelite.stats.value_ranges`). `_may_match` intersects the predicates on a
column into one interval before it tests the summary, and drops a file only
when no interval can hold a matching value. Manifests written before the
`ranges` column load with no summaries and prune by min/max alone.
"""

import dataclasses
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (ByteType, IntegerType, LongType, ShortType,
                               StringType, StructField, StructType)

from olake_spark import datagen
from olake_spark.checkpoint import MaintenanceLog
from olake_spark.icelite import PartitionField, PartitionSpec, Table
from olake_spark.icelite.export import export_iceberg, import_iceberg
from olake_spark.icelite.meta import all_files_df
from olake_spark.icelite.stats import (MAX_RANGES, pack_ranges, unpack_ranges,
                                       value_ranges)
from olake_spark.icelite.table import (_MANIFEST_CACHE, DATA, EQ_DELETES,
                                       FileEntry, _may_match)
from olake_spark.operators.manifests import rewrite_manifests
from olake_spark.operators.merge import merge_into

INT_COLS = {"b": ByteType(), "s": ShortType(), "i": IntegerType(), "l": LongType()}
SCHEMA = StructType(
    [StructField("k", StringType(), False)]
    + [StructField(c, t, True) for c, t in INT_COLS.items()]
)
# per-column multiplier of the drawn points: spreads them over the type
SCALE = {"b": 1, "s": 97, "i": 65_537, "l": 1 << 40}
OPS = ("==", "<", "<=", ">", ">=")
NP_OPS = {
    "==": np.equal, "<": np.less, "<=": np.less_equal,
    ">": np.greater, ">=": np.greater_equal,
}


# ------------------------------------------------------------- summaries


def test_value_ranges_exact_up_to_the_cap():
    assert value_ranges([5, 1, 3, 3]) == [(1, 1), (3, 3), (5, 5)]
    vals = list(range(0, 32, 2))
    assert value_ranges(vals) == [(v, v) for v in vals]
    assert value_ranges([]) == []
    # consecutive integers leave no gap: one interval, however many
    assert value_ranges(range(100, 140)) == [(100, 139)]
    assert value_ranges([1, 2, 3, 7, 8, 10]) == [(1, 3), (7, 8), (10, 10)]


def test_value_ranges_cut_at_the_widest_gaps():
    # 17 clusters of 3 values each: 16 intervals, the narrowest gap joined
    vals = [c * 100 + d for c in range(17) for d in range(3)]
    vals[-3:] = [1550, 1551, 1552]  # 48 above its neighbour; the rest 98
    ivs = value_ranges(vals)
    assert len(ivs) == MAX_RANGES
    assert ivs[-1] == (1500, 1552)
    assert ivs[:15] == [(c * 100, c * 100 + 2) for c in range(15)]
    # every value inside some interval, intervals disjoint and sorted
    for v in vals:
        assert any(lo <= v <= hi for lo, hi in ivs)
    assert all(a[1] < b[0] for a, b in zip(ivs, ivs[1:]))


def test_value_ranges_span_the_whole_int64_domain():
    lo, hi = -(1 << 63), (1 << 63) - 1
    vals = [lo, hi] + list(range(20))
    ivs = value_ranges(vals)
    assert ivs[0] == (lo, lo) and ivs[-1] == (hi, hi)
    assert unpack_ranges(pack_ranges(ivs)) == ivs
    assert len(pack_ranges(ivs)) == 16 * len(ivs)


def _value_ranges_reference(values) -> list[tuple[int, int]]:
    """value_ranges in plain Python integers (no int64 wrap-around)."""
    v = sorted(set(int(x) for x in values))
    gaps = [(v[j + 1] - v[j], j) for j in range(len(v) - 1) if v[j + 1] - v[j] > 1]
    cuts = sorted(j for _, j in sorted(gaps)[-(MAX_RANGES - 1):]) if gaps else []
    starts, ends = [0] + [j + 1 for j in cuts], cuts + [len(v) - 1]
    return [(v[a], v[b]) for a, b in zip(starts, ends)] if v else []


def test_value_ranges_match_the_python_reference():
    rng = np.random.default_rng(1)
    edge = np.array([-(1 << 63), (1 << 63) - 1, -1, 0, 1], dtype=np.int64)
    for n in (1, 2, 15, 16, 17, 40, 300):
        for span in (4, 40, 1 << 20, None):
            if span is None:
                vals = rng.integers(-(1 << 63), (1 << 63) - 1, n, dtype=np.int64)
                vals = np.concatenate([vals, rng.choice(edge, 2)])
            else:
                vals = rng.integers(-span, span, n)
            assert value_ranges(vals) == _value_ranges_reference(vals)


def _entry(ranges: dict[str, list[tuple[int, int]]]) -> FileEntry:
    mins = {c: iv[0][0] for c, iv in ranges.items()}
    maxs = {c: iv[-1][1] for c, iv in ranges.items()}
    packed = {c: pack_ranges(iv) for c, iv in ranges.items()}
    return FileEntry(DATA, "f", {}, 1, 10, 100, mins, maxs, {}, packed)


def test_may_match_intersects_predicates_per_column():
    e = _entry({"x": [(0, 10), (90, 100)]})
    # each predicate alone hits an interval; together they fall in the gap
    assert not _may_match(e, [("x", ">=", 20), ("x", "<", 80)])
    assert _may_match(e, [("x", ">=", 20)]) and _may_match(e, [("x", "<", 80)])
    assert _may_match(e, [("x", ">", 5), ("x", "<=", 11)])
    assert _may_match(e, [("x", ">", 89), ("x", "<", 91)])
    assert not _may_match(e, [("x", ">", 10), ("x", "<", 90)])
    assert not _may_match(e, [("x", "==", 50)])
    assert _may_match(e, [("x", "==", np.int64(95))])
    # an empty conjunction matches nothing
    assert not _may_match(e, [("x", ">=", 5), ("x", "<=", 4)])
    # non-integer literals fall back to min/max alone: kept
    assert _may_match(e, [("x", ">=", 20.5), ("x", "<", 80.5)])
    # a column without a summary prunes by min/max only
    assert _may_match(e, [("y", "==", 50)])
    assert not _may_match(dataclasses.replace(e, maxs={"x": 10}), [("x", ">", 10)])


# ------------------------------------------------------ property: pruning


def _int_table(spark, root: str, rows: int, per_file: int, pool: int, seed: int):
    """A table of random integral columns (some nulls), `per_file` rows per
    data file; values drawn from `pool` well-spread points per column."""
    rng = np.random.default_rng(seed)
    pdf = {"k": [f"r{j:05d}" for j in range(rows)]}
    for c, m in SCALE.items():
        vals = (rng.integers(-(pool // 2), pool // 2 + 1, rows) * m).astype(object)
        vals[rng.random(rows) < 0.05] = None
        pdf[c] = list(vals)
    data = [tuple(pdf[c][j] for c in SCHEMA.names) for j in range(rows)]
    t = Table.create(spark, root, SCHEMA)
    t.append(spark.createDataFrame(data, SCHEMA).coalesce(1),
             max_records_per_file=per_file)
    t.refresh()
    files = {
        e.file_path: pq.read_table(t._abs(e.file_path)).to_pydict()
        for e in t.entries() if e.content == DATA
    }
    return t, data, files


def _random_conjunction(rng: random.Random, cols, lo: int, hi: int):
    preds = []
    for _ in range(rng.randint(1, 3)):
        c = rng.choice(cols)
        preds.append((c, rng.choice(OPS), rng.randint(lo, hi) * SCALE[c]))
    return preds


def _matches(cols: dict, preds) -> bool:
    keep = np.ones(len(cols["k"]), dtype=bool)
    for c, op, v in preds:
        col = np.array([np.nan if x is None else x for x in cols[c]], dtype=float)
        with np.errstate(invalid="ignore"):
            keep &= NP_OPS[op](col, float(v)) & ~np.isnan(col)
    return bool(keep.any())


def test_pruning_is_conservative_and_scans_are_exact(spark, tmp_table_dir):
    t, data, files = _int_table(
        spark, os.path.join(tmp_table_dir, "t"), rows=600, per_file=40, pool=120, seed=7
    )
    entries = [e for e in t.entries() if e.content == DATA]
    assert len(entries) == 15
    # 40 rows over 121 points: every column gets a multi-interval summary
    assert all(set(e.ranges) == set(INT_COLS) for e in entries)
    for e in entries:
        for c, packed in e.ranges.items():
            ivs = unpack_ranges(packed)
            assert 1 < len(ivs) <= MAX_RANGES
            assert all(
                any(lo <= v <= hi for lo, hi in ivs)
                for v in files[e.file_path][c] if v is not None
            )
    rng = random.Random(11)
    pruned = 0
    for _ in range(400):
        preds = _random_conjunction(rng, list(INT_COLS), -70, 70)
        for e in entries:
            if _matches(files[e.file_path], preds):
                assert _may_match(e, preds), (e.file_path, preds)
            elif not _may_match(e, preds):
                pruned += 1
    assert pruned > 0
    # end to end: the pruned scan returns exactly the unpruned row set
    names = SCHEMA.names
    for _ in range(10):
        preds = _random_conjunction(rng, list(INT_COLS), -40, 40)
        got = sorted(r.k for r in t.scan(columns=["k"], predicates=preds).collect())
        want = sorted(
            row[0] for row in data
            if _matches({n: [row[j]] for j, n in enumerate(names)}, preds)
        )
        assert got == want, preds


def test_planned_files_are_exact_with_few_distinct_values(spark, tmp_table_dir):
    """≤16 distinct values per file: a one-column conjunction plans exactly
    the files that hold a matching row."""
    t, _, files = _int_table(
        spark, os.path.join(tmp_table_dir, "t"), rows=240, per_file=12, pool=60, seed=3
    )
    entries = [e for e in t.entries() if e.content == DATA]
    assert len(entries) == 20
    rng = random.Random(5)
    for _ in range(300):
        c = rng.choice(list(INT_COLS))
        preds = _random_conjunction(rng, [c], -35, 35)
        planned = {e.file_path for e in entries if _may_match(e, preds)}
        holding = {p for p, cols in files.items() if _matches(cols, preds)}
        assert planned == holding, preds
    preds = [("l", ">=", -5 * SCALE["l"]), ("l", "<", 5 * SCALE["l"])]
    df = t.scan(predicates=preds)
    assert len(df.inputFiles()) == sum(_matches(f, preds) for f in files.values())


# ------------------------------------------- CDC-fed table: phash ranges


def _phash_ranges(t: Table, k: int) -> list[list[tuple]]:
    ph = np.array(sorted(r.phash for r in t.scan(columns=["phash"]).collect()))
    out = []
    for j in range(k):
        c = (j + 0.5) / k
        lo, hi = np.quantile(ph, [c - 0.02, c + 0.02])
        out.append([("phash", ">=", int(lo)), ("phash", "<", int(hi))])
    return out


def test_phash_range_scan_reads_fewer_files_than_min_max(spark, tmp_table_dir):
    t = Table.create(
        spark, os.path.join(tmp_table_dir, "img"), datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 4),)),
        identifier_fields=("image_id",),
    )
    t.append(datagen.gen_images_df(spark, 200, bench=True), max_records_per_file=25)
    for _ in range(2):
        merge_into(t, datagen.gen_changes_df(spark, base_n=200, n_changes=40, bench=True))
    t.refresh()
    data = [e for e in t.entries() if e.content == DATA]
    assert any("phash" in e.ranges for e in data)
    full = [r.phash for r in t.scan(columns=["phash"]).collect()]
    read = minmax = 0
    for preds in _phash_ranges(t, 4):
        df = t.scan(predicates=preds)
        n = sum(1 for f in df.inputFiles() if "/deletes/" not in f)
        n_minmax = sum(
            _may_match(dataclasses.replace(e, ranges={}), preds) for e in data
        )
        assert n <= n_minmax
        read, minmax = read + n, minmax + n_minmax
        lo, hi = preds[0][2], preds[1][2]
        assert df.count() == sum(lo <= p < hi for p in full)
    assert read < minmax, (read, minmax)


# ------------------------------------------ manifests without `ranges`


def _strip_ranges(t: Table) -> None:
    """Rewrite the current snapshot's manifests in the schema they had
    before the `ranges` column."""
    for m in t.snapshot()["manifests"]:
        path = t._abs(m)
        pq.write_table(pq.read_table(path).drop_columns(["ranges"]), path)
    _MANIFEST_CACHE.clear()


@pytest.fixture()
def images(spark, tmp_table_dir):
    t = Table.create(
        spark, os.path.join(tmp_table_dir, "img"), datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", 2),)),
        identifier_fields=("image_id",),
    )
    t.append(datagen.gen_images_df(spark, 60, bench=True), max_records_per_file=10)
    return t


def test_old_manifests_load_scan_rewrite_and_export(spark, images, tmp_table_dir):
    t = images
    t.refresh()
    assert any(e.ranges for e in t.entries())
    _strip_ranges(t)
    assert "ranges" not in pq.read_schema(t._abs(t.snapshot()["manifests"][0])).names
    old = Table.load(spark, t.root)
    data = [e for e in old.entries() if e.content == DATA]
    assert data and all(e.ranges == {} for e in data)
    full = sorted(r.phash for r in old.scan(columns=["phash"]).collect())
    preds = [("phash", ">=", full[20]), ("phash", "<", full[40])]
    df = old.scan(predicates=preds)
    assert df.count() == sum(full[20] <= p < full[40] for p in full)
    assert len(df.inputFiles()) == sum(_may_match(e, preds) for e in data)
    assert old.inspect_files().where("ranges IS NOT NULL").count() == 0

    # a new write next to the old manifests: its entries carry summaries
    merge_into(old, datagen.gen_changes_df(spark, base_n=60, n_changes=20, bench=True))
    files = old.inspect_files()
    assert files.where("ranges IS NULL").count() == len(data)
    assert files.where("content = 0 AND ranges IS NOT NULL").count() > 0
    assert all_files_df(old).where("ranges IS NOT NULL").count() > 0
    want = sorted(r.image_id for r in old.scan(columns=["image_id"]).collect())

    res = rewrite_manifests(old, target_entries=8, audit=True)
    assert res["audited"] == sum(1 for e in old.entries() if e.content == DATA)
    old.refresh()
    assert sorted(r.image_id for r in old.scan(columns=["image_id"]).collect()) == want

    out = export_iceberg(old, os.path.join(tmp_table_dir, "exp"))
    imp = import_iceberg(spark, out["metadata_json"], os.path.join(tmp_table_dir, "imp"))
    assert all(e.ranges == {} for e in imp.entries())
    assert sorted(r.image_id for r in imp.scan(columns=["image_id"]).collect()) == want


def test_rewrite_manifests_carries_and_audits_ranges(spark, images):
    t = images
    t.refresh()
    before = {e.file_path: e.ranges for e in t.entries()}
    assert any(before.values())
    rewrite_manifests(t, target_entries=3, audit=True)
    t.refresh()
    _MANIFEST_CACHE.clear()
    assert {e.file_path: e.ranges for e in t.entries()} == before
    rows = t.inspect_files().where("ranges IS NOT NULL").collect()
    assert {r.file_path: dict(r.ranges) for r in rows} == {
        p: r for p, r in before.items()
    }

    # a summary that no longer matches its file fails the audit
    m = t._abs(t.snapshot()["manifests"][0])
    tbl = pq.read_table(m).to_pylist()
    victim = next(r for r in tbl if r["ranges"])
    col = victim["ranges"][0][0]
    victim["ranges"] = [(col, pack_ranges([(0, 0), (1, 1)]))]
    pq.write_table(pa.Table.from_pylist(tbl, schema=pq.read_schema(m)), m)
    _MANIFEST_CACHE.clear()
    with pytest.raises(AssertionError, match=rf"ranges\({col}\) drift"):
        rewrite_manifests(t, target_entries=3, audit=True)


# ------------------------------------------------------ maintenance log


def test_log_lookup_refuses_delete_files(spark, tmp_table_dir):
    log = MaintenanceLog(spark, os.path.join(tmp_table_dir, "log"))
    log.log_planned("job", "compact", [{"chunk_id": "a"}, {"chunk_id": "b"}])
    log.log_done("job", "compact", {"chunk_id": "a"})
    log.log_done("other", "compact", {"chunk_id": "z"})
    assert log.done_chunk_ids("job") == {"a"}
    assert log.done_chunk_ids("nobody") == set()
    t = log.table
    seq = t.meta["last_sequence_number"] + 1
    t._commit_snapshot(
        "delete", [FileEntry(EQ_DELETES, "deletes/x.parquet", {}, seq, 1, 1, {}, {}, {})],
        seq_used=seq,
    )
    with pytest.raises(ValueError, match="delete files"):
        log.done_chunk_ids("job")
