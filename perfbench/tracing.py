"""Per-layer tracing from outside the package.

Nothing under `olake_spark/` is edited. While a traced episode runs, the
tracer replaces public entry points (module attributes and class methods)
with timing wrappers and restores them afterwards. Each timed phase runs
under its own Spark job group, so its jobs and stages can be read back
from Spark's status store once the phase's timer has stopped.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_PHASES = ("compact", "cluster", "merge", "read", "expire")
SPARK_FIELDS = (
    "jobs", "tasks", "wall_s", "run_s", "cpu_s", "gc_s", "python_cpu_s",
    "shuffle_write_mb", "spill_mb", "output_mb", "task_skew",
)
FILEIO_OPS = (
    "rename_many", "remove_many", "walk_files", "list_dir", "getmtime",
    "atomic_create_json", "write_text_atomic", "read_text", "rmtree",
)
_MB = 1024 * 1024


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _proc_table() -> dict[int, tuple[int, bytes, int]]:
    """pid -> (ppid, cmdline, own cpu ticks) for /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks = int(fields[11]) + int(fields[12])  # utime stime
        out[int(name)] = (int(fields[1]), cmd, ticks)
    return out


def python_worker_cpu_s(jvm_pid: int, seen: dict[int, int]) -> float:
    """CPU seconds used so far by the JVM's `pyspark.daemon` process tree
    (the daemon plus the workers it forked). `seen` keeps each process's
    last reading across calls, so a worker that Spark stops when idle keeps
    counting what it used: the total never goes down."""
    procs = _proc_table()
    daemons = {
        pid for pid, (ppid, cmd, _) in procs.items()
        if ppid == jvm_pid and b"pyspark.daemon" in cmd
    }
    for pid, (ppid, _, ticks) in procs.items():
        if pid in daemons or ppid in daemons:
            seen[pid] = max(seen.get(pid, 0), ticks)
    return sum(seen.values()) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class RssPeak:
    """Peak RSS in MB of the driver JVM (which hosts the executors in local
    mode) plus the driver Python process while the `with` block runs,
    sampled every `interval` seconds on a background thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.02):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            mb = (_rss_kb(self.jvm_pid) + _rss_kb("self")) / 1024
            self.peak_mb = max(self.peak_mb, mb)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Span and counter recorder for one traced episode at a time.

    `acc` holds the current episode's per-layer values; `reset()` starts a
    new episode. Wrappers are only in place inside `installed()`, and record
    only while `active` (inside a timed call): the benchmark's own checks
    call the same entry points and are not part of any layer."""

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self._store = self.sc._jsc.sc().statusStore()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0
        self._py_ticks: dict[int, int] = {}
        self.active = False
        self.reset()

    def reset(self) -> None:
        self.acc: dict[str, float] = defaultdict(float)
        self.intervals: list[tuple[float, float]] = []
        self.phase_walls: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.job_intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.acc[key] += value

    # ------------------------------------------------------------ wrappers

    def _timed(self, orig, time_key: str | None, count_key: str | None,
               on_result=None, layer: bool = True):
        tracer = self

        def wrapper(*args, **kwargs):
            depth = getattr(tracer._local, "depth", None)
            if depth is None:
                depth = tracer._local.depth = defaultdict(int)
            key = time_key or count_key
            if depth[key] or not tracer.active:
                return orig(*args, **kwargs)  # nested call of the same layer
            depth[key] += 1
            t0 = time.time()
            try:
                result = orig(*args, **kwargs)
            finally:
                t1 = time.time()
                depth[key] -= 1
                with tracer._lock:
                    if time_key:
                        tracer.acc[time_key] += t1 - t0
                    if count_key:
                        tracer.acc[count_key] += 1
                    if layer:
                        tracer.intervals.append((t0, t1))
            if on_result is not None:
                on_result(result)
            return result

        return wrapper

    def _timed_gen(self, orig, time_key: str, count_key: str):
        """Generator functions return before doing work: time each step."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                yield from orig(*args, **kwargs)
                return
            tracer.add(count_key, 1)
            it = orig(*args, **kwargs)
            while True:
                t0 = time.time()
                try:
                    item = next(it)
                except StopIteration:
                    tracer._note(time_key, t0)
                    return
                tracer._note(time_key, t0)
                yield item

        return wrapper

    def _note(self, time_key: str, t0: float) -> None:
        t1 = time.time()
        with self._lock:
            self.acc[time_key] += t1 - t0
            self.intervals.append((t0, t1))

    def _targets(self):
        """(owner, attribute, wrapper factory) for every traced entry point."""
        from pyspark.sql import DataFrameWriter

        from olake_spark import checkpoint
        from olake_spark.icelite import fileio, stats, table
        from olake_spark.operators import (cluster, compact, expire, manifests,
                                           merge)

        add = self.add
        df_cls = type(self.spark.range(1))
        T = table.Table

        def stats_result(r):
            add("icelite.stats.files", len(r))

        def cas_result(ok):
            add("icelite.commit.attempts", 1)
            if ok is False:
                add("icelite.commit.conflicts", 1)

        def expire_result(r):
            add("icelite.table.snapshots_expired", r.get("expired", 0))

        def orphan_result(r):
            add("icelite.table.orphans", len(r))

        def manifests_result(r):
            add("operators.manifests.manifests_before", r.get("manifests_before", 0))
            add("operators.manifests.manifests_after", r.get("manifests_after", 0))

        def plan_result(bins):
            add("operators.compact.bins_planned", len(bins))

        def compact_result(r):
            add("operators.compact.bins_executed", r.get("bins_executed", 0))

        def t(time_key, count_key=None, on_result=None, layer=True):
            return lambda orig: self._timed(orig, time_key, count_key, on_result, layer)

        targets = [
            # operators: whole-op walls are not driver layers (layer=False)
            (compact, "run_compaction", t("operators.compact.s", None, compact_result, False)),
            (compact, "plan_compaction", t("operators.compact.plan_s", None, plan_result)),
            (cluster, "run_cluster_rewrite", t("operators.cluster.s", layer=False)),
            (merge, "merge_into", t("operators.merge.s", layer=False)),
            (manifests, "rewrite_manifests", t("operators.manifests.s", None, manifests_result, False)),
            (expire, "run_expire", t("operators.expire.s", layer=False)),
            (df_cls, "approxQuantile", t("operators.cluster.bounds_s")),
            # the Spark job layer's own driver side: plan analysis + write
            (DataFrameWriter, "parquet", t("spark.writer_s")),
            # icelite.table
            (T, "scan", t("icelite.table.scan_plan_s")),
            (T, "entries", t("icelite.table.entries_s", "icelite.table.entries_calls")),
            (T, "_commit", t("icelite.commit.s")),
            (T, "expire_snapshots", t("icelite.table.expire_s", None, expire_result)),
            (T, "remove_orphan_files", t("icelite.table.orphan_s", None, orphan_result)),
            # checkpoint (log_done delegates to log_done_many: counted once)
            (checkpoint.MaintenanceLog, "log_planned", t("checkpoint.s", "checkpoint.appends")),
            (checkpoint.MaintenanceLog, "log_done_many", t("checkpoint.s", "checkpoint.appends")),
            (checkpoint.MaintenanceLog, "done_chunk_ids", t("checkpoint.done_lookup_s")),
        ]
        # footer-stats harvest: patched wherever it was imported by name
        for mod in (stats, table, manifests):
            if hasattr(mod, "collect_file_stats"):
                targets.append((mod, "collect_file_stats",
                                t("icelite.stats.s", "icelite.stats.calls", stats_result)))
        for cls in (fileio.FileIO, fileio.LocalFileIO, fileio.ConditionalPutFileIO,
                    fileio.FakeObjectStoreFileIO):
            for op in FILEIO_OPS:
                if op not in cls.__dict__:
                    continue
                tk, ck = f"icelite.fileio.{op}.s", f"icelite.fileio.{op}.n"
                if op == "walk_files":
                    targets.append((cls, op, lambda o, tk=tk, ck=ck: self._timed_gen(o, tk, ck)))
                elif op == "atomic_create_json":
                    targets.append((cls, op, t(tk, ck, cas_result)))
                else:
                    targets.append((cls, op, t(tk, ck)))
        return targets

    @contextmanager
    def installed(self):
        saved = []
        try:
            for owner, attr, factory in self._targets():
                had = attr in vars(owner)
                orig = vars(owner)[attr] if had else getattr(owner, attr)
                saved.append((owner, attr, had, orig))
                setattr(owner, attr, factory(getattr(owner, attr)))
            yield self
        finally:
            for owner, attr, had, orig in reversed(saved):
                if had:
                    setattr(owner, attr, orig)
                else:
                    delattr(owner, attr)

    # -------------------------------------------------------------- phases

    def begin(self, phase: str) -> dict:
        self._seq += 1
        group = f"perfbench-{phase}-{self._seq}"
        self.sc.setJobGroup(group, phase)
        return {"phase": phase, "group": group,
                "cpu0": python_worker_cpu_s(self.jvm_pid, self._py_ticks)}

    def end(self, token: dict, w0: float, w1: float) -> None:
        """Close a phase whose timed region was [w0, w1] (epoch seconds);
        runs after the phase's timer stopped."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        phase = token["phase"]
        cpu = python_worker_cpu_s(self.jvm_pid, self._py_ticks) - token["cpu0"]
        self.phase_walls[phase].append((w0, w1))
        if phase not in SPARK_PHASES:
            return
        m = self._spark_metrics(token["group"])
        self.job_intervals[phase].extend(m.pop("intervals"))
        m["python_cpu_s"] = cpu
        for k, v in m.items():
            key = f"spark.{phase}.{k}"
            if k == "task_skew":
                self.acc[key] = max(self.acc[key], v)
            else:
                self.acc[key] += v

    def _spark_metrics(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        out = {k: 0.0 for k in SPARK_FIELDS if k != "python_cpu_s"}
        out["jobs"] = len(jobs)
        intervals = []
        stages = set()
        for j in jobs:
            jd = self._store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1000, comp.get().getTime() / 1000))
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        heavy = None
        for sid in stages:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped (shuffle reuse) stages did no work
            run_ms = sd.executorRunTime()
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += run_ms / 1000
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1000
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            out["output_mb"] += sd.outputBytes() / _MB
            if sd.numCompleteTasks() > 1 and (heavy is None or run_ms > heavy[0]):
                heavy = (run_ms, sid, sd.attemptId())
        if heavy is not None:
            out["task_skew"] = self._task_skew(heavy[1], heavy[2])
        lo = min((a for a, _ in intervals), default=0.0)
        hi = max((b for _, b in intervals), default=0.0)
        out["wall_s"] = union_length(intervals, lo, hi)
        out["intervals"] = intervals
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """max ÷ median task run time of one stage."""
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 0.0
        dist = summary.get().executorRunTime()
        med, top = dist.apply(0), dist.apply(1)
        return top / med if med > 0 else 0.0

    # ------------------------------------------------------------- results

    def episode_values(self) -> dict[str, float]:
        """The finished episode's per-layer values, coverage included."""
        vals = dict(self.acc)
        for phase in ("compact", "cluster"):
            walls = self.phase_walls.get(phase)
            if not walls:
                continue
            covered = total = 0.0
            spans = self.job_intervals[phase] + self.intervals
            for w0, w1 in walls:
                covered += union_length(spans, w0, w1)
                total += w1 - w0
            vals[f"coverage.{phase}"] = covered / total if total > 0 else 0.0
        return vals
