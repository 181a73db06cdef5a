"""The benchmark workloads.

Each workload builds its inputs once per set-up repetition (`setup`, timed)
and then runs episodes on fresh copies of the prepared table (`episode`).
An episode is made of units, the closed-loop steps whose timings become
samples: `merge`, `read` and `maintain` seconds, as the unit timed them.
Units register their correctness checks with `run.checks`; they run after
the measuring window.

Timed calls only ever see pre-materialized parquet inputs: image encoding
happens in set-up. Calls go through module attributes (`compact.run_...`)
so the traced run's wrappers see them. olake_spark is imported inside the
functions, so run.py can report a missing package before touching it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import numpy as np

# ------------------------------------------------------------------ helpers


def _content_cols():
    from pyspark.sql import functions as F

    # decimal(38,0): a BIGINT sum of xxhash64 overflows under ANSI mode
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("image_id", "bytes", "caption").cast("decimal(38,0)")).alias("h")]


class DeferredChecks:
    """Every correctness check of a run, run after its measuring window.

    A content check reads the snapshot it checks pinned, so it sees what
    the operation committed however much later it runs, and all of them
    go into one Spark job. Nothing untimed runs between the timed units
    but the workloads' own bookkeeping. Checks made in the warm-up are
    dropped."""

    def __init__(self, run):
        self.run = run
        self.snapshots: list[tuple[str, object, int, Callable[[], tuple[int, int]]]] = []
        self.predicates: list[tuple[str, Callable[[], bool]]] = []

    def expect(self, name: str, table, expected: Callable[[], tuple[int, int]]) -> None:
        """Check `table`'s current snapshot against `expected()`."""
        if self.run.recording:
            self.snapshots.append((name, table, table.current_snapshot_id, expected))

    def defer(self, name: str, ok: Callable[[], bool]) -> None:
        """Check that `ok()` holds."""
        if self.run.recording:
            self.predicates.append((name, ok))

    def flush(self, wl: "Workload") -> None:
        """Compute `wl`'s oracle and run every check, in one Spark job."""
        snapshots, self.snapshots = self.snapshots, []
        predicates, self.predicates = self.predicates, []
        items = wl.oracle_items()
        got = content_counts(items + [(t.scan(snapshot_id=sid), [], None)
                                      for _, t, sid, _ in snapshots])
        self.run.check("set-up table equals its oracle", wl.set_oracle(got[:len(items)]))
        for name, ok in predicates:
            self.run.check(name, ok())
        for (name, _, _, want), (g, _) in zip(snapshots, got[len(items):]):
            self.run.check(name, g == want())


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


def parquet_bytes(root: str) -> int:
    """Bytes of the parquet part files under `root` (no checksums/markers)."""
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, name))
    return total


def parquet_rows(root: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(root, format="parquet").count_rows()


def live_data_bytes(table) -> int:
    return sum(e.file_size_bytes for e in table.entries() if e.content == 0)


def note_history(table) -> int:
    """Bytes of every file any of the table's snapshots holds: everything
    its commits ever added."""
    known: dict[str, int] = {}
    for s in table.snapshots():
        for e in table.entries(s["snapshot_id"]):
            known.setdefault(e.file_path, e.file_size_bytes)
    return sum(known.values())


def data_files_read(df) -> int:
    """Data files (not delete files) a DataFrame's scan reads."""
    return sum(1 for f in df.inputFiles() if "/deletes/" not in f)


def phash_ranges(parquet_dir: str, k: int) -> list[list[tuple]]:
    """`k` fixed phash ranges, each ~4% of rows, spread across the key
    space by quantiles of the generated input."""
    import pyarrow.dataset as ds

    ph = (ds.dataset(parquet_dir, format="parquet").to_table(columns=["phash"])
          .column("phash").to_numpy())
    out = []
    for i in range(k):
        c = (i + 0.5) / k
        lo, hi = np.quantile(ph, [c - 0.02, c + 0.02])
        out.append([("phash", ">=", int(lo)), ("phash", "<", int(hi))])
    return out


def _conditions(ranges, key: str | None) -> list:
    from pyspark.sql import functions as F

    conds = []
    for preds in ranges:
        cond = None
        for col, op, v in preds:
            c = F.col(col) >= v if op == ">=" else F.col(col) < v
            cond = c if cond is None else cond & c
        conds.append(cond)
    if key is not None:
        conds.append(F.col("image_id") == key)
    return conds


def content_counts(items: list) -> list[tuple[tuple[int, int], list[int]]]:
    """For each `(df, ranges, key)`, all in one Spark job: the row count and
    content hash of `df`, and its rows in each (col >= lo, col < hi) range
    followed (when `key` is given) by its rows with that image_id."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    conds = [_conditions(ranges, key) for _, ranges, key in items]
    width = max(len(c) for c in conds)
    tagged = [
        df.select("image_id", "bytes", "caption", F.lit(i).alias("_k"),
                  *[(cs[j] if j < len(cs) else F.lit(False)).alias(f"c{j}")
                    for j in range(width)])
        for i, ((df, _, _), cs) in enumerate(zip(items, conds))
    ]
    rows = (reduce(DataFrame.unionByName, tagged).groupBy("_k")
            .agg(*_content_cols(),
                 *[F.count(F.when(F.col(f"c{j}"), 1)).alias(f"c{j}") for j in range(width)])
            .collect())
    got = {r["_k"]: r for r in rows}
    out = []
    for i, cs in enumerate(conds):
        r = got.get(i)
        if r is None:  # no rows at all
            out.append(((0, 0), [0] * len(cs)))
        else:
            out.append(((int(r["n"]), int(r["h"] or 0)),
                        [int(r[f"c{j}"]) for j in range(len(cs))]))
    return out


def seeded_pick(df, seed: int, rows: int):
    """`rows` of the generated ids, chosen by the seed: every seed yields
    the same row count, so sizes do not move with it."""
    from pyspark.sql import functions as F

    return df.orderBy(F.xxhash64("image_id", F.lit(seed))).limit(rows)


def image_table(spark, root: str, buckets: int):
    from olake_spark import datagen
    from olake_spark.icelite import LocalFileIO, PartitionField, PartitionSpec, Table

    return Table.create(
        spark, root, datagen.IMAGES_SCHEMA,
        PartitionSpec((PartitionField("image_id", "bucket", buckets),)),
        identifier_fields=("image_id",),
        properties={"write.parquet.compression-codec": "uncompressed"},
        io=LocalFileIO(),
    )


@dataclass
class Prepared:
    """What the last set-up repetition leaves for the timed episodes.
    `setup` fills the first fields; `set_oracle` (untimed, after the
    measuring window) the expected values."""
    dir: str
    proto_root: str
    user_bytes: int
    rows: int
    extra: dict
    expected: tuple[int, int] = (0, 0)


class Workload:
    name = ""

    def __init__(self, spark, sizes: dict, seed: int, work: str, plant: str | None):
        self.spark = spark
        self.sizes = sizes
        self.seed = seed
        self.work = work
        self.plant = plant
        self.prep: Prepared | None = None
        self._seq = 0

    def _fresh_copy(self, io=None, src: str | None = None):
        """A fresh copy of the prepared table, or of the table at `src` (its
        paths are root-relative, so a copied directory is a table), and a
        maintenance log beside it."""
        from olake_spark.checkpoint import MaintenanceLog
        from olake_spark.icelite import LocalFileIO, Table

        self._seq += 1
        d = os.path.join(self.work, f"copy-{self._seq}")
        shutil.copytree(src or self.prep.proto_root, f"{d}/table")
        t = Table.load(self.spark, f"{d}/table", io=io or LocalFileIO())
        return t, MaintenanceLog(self.spark, f"{d}/log")

    def describe(self) -> dict:
        """Per-workload sizes for the environment record."""
        p = self.prep
        extra = {k: v for k, v in p.extra.items() if k not in ("ranges", "oracle")}
        return {**self.sizes, "rows": p.rows, "user_bytes": p.user_bytes,
                "bytes_per_row": round(p.user_bytes / max(1, p.rows), 1), **extra}

    def setup(self, d: str) -> float:
        """Materialize the inputs under `d` (timed): the seeded base images
        and the CDC batches as parquet, and the fragmented prepared table
        built from the base. Returns the seconds spent generating data."""
        from pyspark.sql import functions as F

        from olake_spark import datagen

        sp, n = self.spark, self.sizes["images"]
        B, C = self.sizes["batches"], self.sizes["changes"]
        t0 = time.perf_counter()
        (seeded_pick(datagen.gen_images_df(sp, n, bench=True), self.seed, self.sizes["rows"])
         .write.parquet(f"{d}/base"))
        # batch b inserts fresh ids above n + offset + 10*C*b; its updates
        # and key-only deletes hit existing ids; the seed shifts the offset
        offset = n + (self.seed % 97) * 10
        batches = None
        for b in range(B):
            df = datagen.gen_changes_df(sp, offset + b * 10 * C, n_changes=C, bench=True)
            df = df.withColumn("_batch", F.lit(b))
            batches = df if batches is None else batches.unionByName(df)
        batches.write.partitionBy("_batch").parquet(f"{d}/changes")
        datagen_s = time.perf_counter() - t0
        rows = parquet_rows(f"{d}/base")
        proto = image_table(sp, f"{d}/proto", self.sizes["buckets"])
        datagen.fragmented_append(proto, sp.read.parquet(f"{d}/base"), rows,
                                  n_files=self.sizes["files"])
        self.prep = Prepared(
            d, proto.root, parquet_bytes(f"{d}/base"), rows,
            {"files": len(proto.entries()), "snapshots": len(proto.snapshots()),
             "batches": B,
             "batch_bytes": [parquet_bytes(f"{d}/changes/_batch={b}") for b in range(B)],
             # the fixed phash ranges the reads count (one per batch in cdc_maintain)
             "ranges": phash_ranges(f"{d}/base", self.sizes.get("ranges", B))},
        )
        return datagen_s

    def _changes(self, b: int):
        return self.spark.read.parquet(f"{self.prep.dir}/changes/_batch={b}")

    def oracle_items(self) -> list:
        """`content_counts` items of the oracle (untimed, after the
        measuring window): the oracle's table after each batch
        (`apply_changes_oracle` applied batch by batch to the parquet
        inputs), then the prepared table and its parquet input."""
        from olake_spark.icelite import Table
        from olake_spark.operators import merge

        p, sp = self.prep, self.spark
        base = sp.read.parquet(f"{p.dir}/base")
        states, state = [], base
        for b in range(p.extra["batches"]):
            state = merge.apply_changes_oracle(state, self._changes(b), ["image_id"])
            states.append(state)
        proto = Table.load(sp, p.proto_root)
        return self._oracle_items(states) + [(proto.scan(), [], None), (base, [], None)]

    def set_oracle(self, got: list) -> bool:
        """Keep the expected values `content_counts` gave for
        `oracle_items`; returns whether the prepared table matches its
        parquet input."""
        self._set_oracle(got[:-2])
        return got[-2][0] == got[-1][0]

    def _oracle_items(self, states: list) -> list:
        """`content_counts` items for the episodes' checks, from the
        oracle's table after each batch."""
        raise NotImplementedError

    def _set_oracle(self, got: list) -> None:
        """Keep the expected values `content_counts` gave for the items."""
        raise NotImplementedError

    def episode(self, run) -> None:
        raise NotImplementedError

    def finish(self, run) -> None:
        """Once-per-run checks after the timed episodes."""


# ------------------------------------------------------------------ rewrite


class Rewrite(Workload):
    """Per cycle, on a fresh copy of a fragmented bench-size image table:
    three 10% CDC batches via `merge_into`, then compaction and Hilbert
    clustering (both with in-stream decode verify), then a fixed set of
    phash-range reads."""

    name = "rewrite"

    def _oracle_items(self, states: list) -> list:
        p = self.prep
        return [(s, [], None) for s in states[:-1]] + [(states[-1], p.extra["ranges"], None)]

    def _set_oracle(self, got: list) -> None:
        p = self.prep
        p.extra["oracle"] = [agg for agg, _ in got]
        p.expected, p.extra["range_counts"] = got[-1]

    def episode(self, run) -> None:
        from olake_spark.operators import cluster, compact, merge

        p = self.prep
        t, log = self._fresh_copy()
        n_batches = p.extra["batches"]
        checks = run.checks
        # one merge per unit: each batch's merge_into is one merge sample
        for b in range(n_batches):
            with run.unit("merge") as u:
                u.table, u.rows_in = t, p.rows
                changes = self._changes(b)
                u.time("merge", lambda: merge.merge_into(t, changes), phase="merge")
                checks.expect("post-merge scan equals apply_changes_oracle", t,
                              lambda b=b: p.extra["oracle"][b])
        with run.unit("maintain") as u:
            u.table, u.rows_in = t, p.rows
            target = max(1 << 18, live_data_bytes(t) // self.sizes["target_div"])
            u.time("maintain", lambda: compact.run_compaction(
                t, "perfbench-compact", log=log, fill_ratio=1.0,
                target_bytes=target, verify=True), phase="compact")
            if self.plant == "drop-row":
                from pyspark.sql import functions as F

                t.delete_where(F.col("image_id") == t.scan().first()["image_id"])
            checks.expect("compaction preserves row count and content hash", t,
                          lambda: p.expected)
            u.time("maintain", lambda: cluster.run_cluster_rewrite(
                t, "perfbench-cluster", curve="hilbert", log=log,
                target_bytes=target, verify=True), phase="cluster")
            checks.expect("clustering preserves row count and content hash", t,
                          lambda: p.expected)
            fed = p.user_bytes + sum(p.extra["batch_bytes"][:n_batches])
            u.write_amp = note_history(t) / fed
            u.space_amp = tree_bytes(t.root) / live_data_bytes(t)
            self.last_table = t

        def reads():
            dfs = [t.scan(predicates=r) for r in p.extra["ranges"]]
            return dfs, [df.count() for df in dfs]

        # the reader's closed loop over the clustered table: the fixed range
        # set, several passes, one sample each (the passes are alike, so
        # they share a position; the files read are the same on each pass).
        # One pass warms the read path.
        for i in range(self.sizes["read_passes"] if run.recording else 1):
            with run.unit("read") as u:
                u.table, u.rows_in = t, p.rows
                dfs, counts = u.time("read", reads, phase="read")
                checks.defer("range reads match the oracle",
                             lambda counts=counts: counts == p.extra["range_counts"])
                if i == 0:
                    u.files_per_query = float(np.mean([data_files_read(df) for df in dfs]))

    def finish(self, run) -> None:
        from olake_spark import verify

        s = verify.verify_table_scan(self.last_table.scan(), bench=True)
        # captions of updated rows differ from the generator by design;
        # pixels and the row count must not
        run.check("verify_table_scan: decoded pixels match the generator",
                  s["pixel_failures"] == 0 and s["rows"] == self.prep.expected[0])


# ------------------------------------------------------------- cdc_maintain


class CdcMaintain(Workload):
    """A base image table on the fake object store (fixed per-request
    latency). Per episode: small CDC MERGE batches, each followed by a
    point lookup and a phash-range count that read through the growing
    equality-delete debt; then the maintenance pass (compaction, manifest
    rewrite, expiry with orphan reaping) on each of several copies of the
    table the batches left, with pruned-scan planning timed before and
    after it."""

    name = "cdc_maintain"

    def setup(self, d: str) -> float:
        datagen_s = super().setup(d)
        self.prep.extra.update(fileio="FakeObjectStoreFileIO",
                               latency_s=self.sizes["latency_s"])
        return datagen_s

    def _lookup_key(self, b: int) -> str:
        # an id batch b updates (gen_changes_df: j % 10 in 5..7 updates id j)
        return f"img-{5 + 10 * (b % max(1, self.sizes['changes'] // 10)):012d}"

    def _oracle_items(self, states: list) -> list:
        p = self.prep
        ranges = p.extra["ranges"]
        return [(s, [ranges[b]], self._lookup_key(b)) for b, s in enumerate(states)]

    def _set_oracle(self, got: list) -> None:
        # expected (content, lookup rows, range count) after each batch
        p = self.prep
        p.extra["oracle"] = [(agg, n_key, n_rng) for agg, (n_rng, n_key) in got]
        p.expected = p.extra["oracle"][-1][0]

    def episode(self, run) -> None:
        from olake_spark.icelite import FakeObjectStoreFileIO
        from olake_spark.operators import compact, expire, manifests, merge

        p = self.prep

        def store():
            return FakeObjectStoreFileIO(latency_s=self.sizes["latency_s"])

        t, _ = self._fresh_copy(store())
        files = []
        checks = run.checks
        n_batches = p.extra["batches"]
        for b in range(n_batches):
            with run.unit("merge") as u:
                u.table, u.rows_in = t, p.rows
                chg = self._changes(b)
                u.time("merge", lambda: merge.merge_into(t, chg), phase="merge")
                checks.expect("post-merge scan equals apply_changes_oracle", t,
                              lambda b=b: p.extra["oracle"][b][0])
            # the reads after batch b go through the debt of b + 1
            # batches: their samples are kept apart by that position
            with run.unit("read", pos=b) as u:
                u.table, u.rows_in = t, p.rows
                key, rng = self._lookup_key(b), p.extra["ranges"][b]

                def reads():
                    hit = t.scan(predicates=[("image_id", "==", key)]).collect()
                    df = t.scan(predicates=rng)
                    return df, (len(hit), df.count())

                df, got = u.time("read", reads, phase="read")
                checks.defer("point lookup and range count match the oracle",
                             lambda b=b, got=got: got == p.extra["oracle"][b][1:])
                files.append(data_files_read(df))
        # the maintenance pass, on several copies of the table the
        # batches left (one warms it): one maintain sample each
        for _ in range(self.sizes["passes"] if run.recording else 1):
            with run.unit("maintain") as u:
                io = store()
                m, log = self._fresh_copy(io, src=t.root)
                u.table, u.rows_in = m, p.rows
                preds = p.extra["ranges"]

                def plan():
                    return [m.scan(predicates=q) for q in preds]

                u.time("plan_before", plan)
                n0 = sum(io.counts.values())
                u.time("maintain", lambda: compact.run_compaction(
                    m, "perfbench-compact", log=log, fill_ratio=1.0,
                    target_bytes=self.sizes["target_bytes"]), phase="compact")
                n1 = sum(io.counts.values())
                history = note_history(m)
                n2 = sum(io.counts.values())
                u.time("maintain", lambda: manifests.rewrite_manifests(
                    m, target_entries=self.sizes["manifest_entries"]), phase="manifests")
                u.time("maintain", lambda: expire.run_expire(
                    m, keep_last=1, grace_seconds=0.0, job_id="perfbench-expire",
                    log=log), phase="expire")
                # the injected request latency inside the timed pass: the
                # part of maintain_s that is object-store round trips
                requests = n1 - n0 + sum(io.counts.values()) - n2
                u.totals["fileio_wait"] = requests * io.latency_s
                checks.expect("maintenance pass preserves row count and content hash",
                              m, lambda: p.expected)
                u.time("plan_after", plan)
                fed = p.user_bytes + sum(p.extra["batch_bytes"][:n_batches])
                u.files_per_query = float(np.mean(files))
                u.write_amp = history / fed
                u.space_amp = tree_bytes(m.root) / live_data_bytes(m)


WORKLOADS = {w.name: w for w in (Rewrite, CdcMaintain)}

# sizes per mode; "smoke" is the tiny mode the benchmark's own tests run
SIZES = {
    "rewrite": {
        "full": {"images": 600, "rows": 520, "files": 12, "buckets": 4, "changes": 60,
                 "batches": 3, "target_div": 8, "ranges": 4, "read_passes": 4},
        "smoke": {"images": 240, "rows": 200, "files": 16, "buckets": 4, "changes": 24,
                  "batches": 2, "target_div": 4, "ranges": 2, "read_passes": 2},
    },
    "cdc_maintain": {
        "full": {"images": 600, "rows": 520, "files": 12, "buckets": 4, "changes": 40,
                 "batches": 2, "passes": 2, "target_bytes": 1 << 20,
                 "manifest_entries": 64, "latency_s": 0.01},
        "smoke": {"images": 200, "rows": 170, "files": 8, "buckets": 4, "changes": 20,
                  "batches": 2, "passes": 2, "target_bytes": 1 << 20,
                  "manifest_entries": 64, "latency_s": 0.01},
    },
}
