#!/usr/bin/env python3
"""olake_spark maintenance benchmark: one workload per invocation.

    python3 perfbench/run.py --workload rewrite --seed 1 --seconds 12 --trace 0

Runs from the root of a source checkout on `local[nproc]`. Set-up builds
the inputs from the seed (several times; `setup_s` is the median), one
warm-up episode runs untimed, then closed-loop units run back to back
until the next one is predicted to end after `--seconds` (at least one
whole episode). Every unit's outputs are checked against an oracle.

The last stdout line is the result: `{"correct", "attempted", "failed",
"metrics"}` with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or
its per-layer metrics (`--trace 1`). The line before it is a detail record
(environment, host calibration, sample counts, failures). Exit code
is 0 when every check passed, 1 when one failed, 2 when the benchmark
cannot run at all.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


class OpFailed(Exception):
    """A timed operation raised; the run stops measuring."""


class WindowClosed(Exception):
    """The next unit is predicted to end after the measuring window."""


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def position_median(samples: dict, key: str) -> float:
    """Mean over episode positions of the median at each position.

    A unit's cost can depend on where it sits in its episode (a read after
    the third CDC batch reads through more delete debt than one after the
    first), and the window may close mid-episode; averaging per-position
    medians keeps the figure from moving with how many late units fit."""
    per_pos = [median(v) for (k, _), v in samples.items() if k == key and v]
    return sum(per_pos) / len(per_pos) if per_pos else 0.0


# --------------------------------------------------------------- recording


class Unit:
    """One closed-loop step: its timed calls, checks and sample values."""

    def __init__(self, run: "Run", pos: int):
        self.run = run
        self.pos = pos
        self.totals: dict[str, float] = defaultdict(float)
        self.table = None
        self.rows_in = 0
        self.files_per_query = self.write_amp = self.space_amp = None

    def time(self, key: str, fn, phase: str | None = None):
        """Time `fn()` into the unit's `key` total. In a traced episode the
        wrappers record only inside these calls, and a named phase gets its
        own Spark job group; phase bookkeeping happens outside the timer."""
        run = self.run
        tracer = run.tracer if run.traced else None
        token = tracer.begin(phase) if tracer and phase else None
        before = _data_files(self.table) if tracer and phase == "compact" else None
        run.attempted += 1
        if tracer:
            tracer.active = True
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        except Exception as e:
            run.fail(f"{key}/{phase}: {e!r}", traceback.format_exc())
            raise OpFailed from e
        finally:
            dt, w1 = time.perf_counter() - t0, time.time()
            if tracer:
                tracer.active = False
            if token:
                tracer.end(token, w0, w1)
        self.totals[key] += dt
        if before is not None:
            after = _data_files(self.table)
            tracer.add("operators.compact.files_in", len(before - after))
            tracer.add("operators.compact.files_out", len(after - before))
        return result


def _data_files(table) -> set[str]:
    return {e.file_path for e in table.entries() if e.content == 0}


class Run:
    """Samples, checks and per-layer values of one benchmark run."""

    def __init__(self, tracer, trace: bool):
        from workloads import DeferredChecks

        self.tracer = tracer
        self.checks = DeferredChecks(self)
        self.trace = trace
        # (key, episode position) -> sample values, per traced flag
        self.samples = {False: defaultdict(list), True: defaultdict(list)}
        self.layer_episodes: list[dict] = []
        self.deadline: float | None = None  # perf_counter end of the window
        self._last_unit: dict[str, float] = {}
        self.unit_walls: dict[str, float] = defaultdict(float)  # checks included
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.recording = True
        self.traced = False  # whether the current episode is traced
        self._gauges: dict[str, float] = {}

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        self.failures.append(what)
        if detail:
            print(detail, file=sys.stderr)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check failed: {name}")

    def episode(self, wl, traced: bool, warmup: bool = False) -> None:
        """Run one episode; a traced one yields one per-layer record (its
        units' values summed, table gauges at their peak)."""
        from tracing import RssPeak

        self.traced = traced
        self.recording = not warmup
        if traced:
            self.tracer.reset()
            self._gauges = {}
        with self.tracer.installed() if traced else nullcontext(), \
                RssPeak(self.tracer.jvm_pid) as rss:
            wl.episode(self)
        if not warmup:
            self.samples[traced][("peak_rss_mb", 0)].append(rss.peak_mb)
        if traced and not warmup:
            rows = self._gauges.pop("rows_in", 0)
            vals = self.tracer.episode_values()
            vals.update(self._gauges)
            for op in ("compact", "cluster"):
                op_s = vals.get(f"operators.{op}.s", 0.0)
                vals[f"{op}_images_per_s"] = rows / op_s if op_s > 0 else 0.0
            self.layer_episodes.append(vals)

    @contextmanager
    def unit(self, kind: str, pos: int = 0):
        """One closed-loop unit of `kind` at episode position `pos`. Raises
        WindowClosed instead of starting when the last unit of the same kind
        says this one would end after the window."""
        t0 = time.perf_counter()
        if self.deadline is not None and t0 + self._last_unit.get(kind, 0.0) > self.deadline:
            raise WindowClosed
        u = Unit(self, pos)
        yield u
        self._last_unit[kind] = time.perf_counter() - t0
        if self.recording:
            self.unit_walls[kind] += self._last_unit[kind]
        if self.traced:
            self._note_gauges(u)
        if not self.recording:
            return
        s = self.samples[self.traced]
        for key, v in u.totals.items():
            s[(key, pos)].append(v)
        for key in ("files_per_query", "write_amp", "space_amp"):
            if getattr(u, key) is not None:
                s[(key, 0)].append(getattr(u, key))

    def _note_gauges(self, u: Unit) -> None:
        t = u.table
        entries = t.entries()
        data = sum(1 for e in entries if e.content == 0)
        snap = t.snapshot()
        now = {
            "icelite.table.files_live": data,
            "icelite.table.delete_files_live": len(entries) - data,
            "icelite.table.manifests_live": len(snap["manifests"]) if snap else 0,
            "icelite.table.snapshots": len(t.snapshots()),
            "icelite.table.plan_before_s": u.totals.get("plan_before", 0.0),
            "icelite.table.plan_after_s": u.totals.get("plan_after", 0.0),
            "rows_in": u.rows_in,
        }
        if u.files_per_query is not None:
            now["icelite.table.files_scanned"] = u.files_per_query
        for k, v in now.items():
            self._gauges[k] = max(self._gauges.get(k, 0.0), v)


# ------------------------------------------------------------- environment


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["OLAKE_FILEIO"] = "local"
    # every JVM (the launcher's too): no hsperfdata files in the system temp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "olake_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    """HEAD's commit, read from `.git` without running git: a loose ref
    file, else its line in `packed-refs` (after `git gc` / `pack-refs`)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref  # detached HEAD
        ref = ref[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    sha, _, name = line.strip().partition(" ")
                    if name == ref:
                        return sha
        return f"unknown (no commit for {ref})"
    except OSError:
        return "unknown (not a git checkout)"


def _environment(spark, nproc: int) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": _git_commit(),
        "olake_spark_sha256": _source_digest(),
    }


def _calibrate(spark, nproc: int) -> dict:
    """Fixed work timed in this process: reported beside the result so runs
    on a busy host can be told apart, never gated."""
    def cpu():
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        hashlib.sha256(b"x" * (8 << 20)).digest()
        return time.perf_counter() - t0

    def job():
        t0 = time.perf_counter()
        spark.range(0, 400_000, 1, nproc).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    return {"cpu_kernel_s": median([cpu() for _ in range(3)]),
            "spark_tiny_job_s": median([job() for _ in range(3)])}


# --------------------------------------------------------------------- run


def _e2e(s: dict, setup: list[float]) -> dict:
    return {
        "setup_s": median(setup),
        "merge_p50_s": position_median(s, "merge"),
        "read_p50_s": position_median(s, "read"),
        "maintain_s": position_median(s, "maintain"),
        **{k: position_median(s, k) for k in ("files_per_query", "write_amp", "space_amp",
                                              "peak_rss_mb")},
    }


def _flat(s: dict, key: str) -> list[float]:
    return [x for (k, _), v in sorted(s.items()) if k == key for x in v]


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS

    from olake_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    # get_spark's own heap sizing; spark.local.dir comes from SPARK_LOCAL_DIRS
    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work}",
        },
    )
    gateway = spark.sparkContext._gateway
    jvm_pid = gateway.proc.pid
    try:
        spark_start_s = time.perf_counter() - t0
        sizes = SIZES[args.workload]["smoke" if args.smoke else "full"]
        wl = WORKLOADS[args.workload](spark, sizes, args.seed, work, args.plant)
        tracer = Tracer(spark, jvm_pid)
        r = Run(tracer, bool(args.trace))

        calibration: dict = {}
        setup_s: list[float] = []
        datagen_s: list[float] = []
        warmup_s = measured_s = finish_s = 0.0
        episodes = 0
        try:
            # set-up repetitions: the first one runs cold (Python worker
            # start, JIT); the traced run traces the second and compares it
            # with the third for the set-up overhead
            for rep in range(SETUP_REPS):
                d = os.path.join(work, f"setup-{rep}")
                os.makedirs(d)
                with tracer.installed() if args.trace and rep == 1 else nullcontext():
                    t0 = time.perf_counter()
                    datagen_s.append(wl.setup(d))
                    setup_s.append(time.perf_counter() - t0)
                if rep:
                    shutil.rmtree(os.path.join(work, f"setup-{rep - 1}"))

            # an untimed warm-up episode, the same calls as a timed one (traced
            # in the traced run, to warm the tracer's paths too): Spark's
            # driver-side planning keeps getting faster for tens of seconds
            # of such calls, and a cold first unit would be a sample
            t0 = time.perf_counter()
            r.episode(wl, bool(args.trace), warmup=True)
            warmup_s = time.perf_counter() - t0

            # closed loop: units run back to back until the next one is
            # predicted (from the last unit of its kind) to end after
            # --seconds; at least one whole episode first, and in the traced
            # run one untraced plus one traced
            start = time.perf_counter()
            while True:
                if episodes >= (2 if args.trace else 1):
                    r.deadline = start + args.seconds
                try:
                    # the traced run alternates untraced and traced episodes,
                    # so tracing overhead is measured against the same run
                    r.episode(wl, bool(args.trace) and episodes % 2 == 1)
                except WindowClosed:
                    break
                episodes += 1
            r.deadline = None
            measured_s = time.perf_counter() - start

            # the oracle and the checks of every unit, then the once-per-run
            # ones
            t0 = time.perf_counter()
            r.checks.flush(wl)
            wl.finish(r)
            finish_s = time.perf_counter() - t0
            calibration = _calibrate(spark, nproc)
        except OpFailed:
            pass

        und, trc = r.samples[False], r.samples[True]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke,
            "environment": {**_environment(spark, nproc),
                            "fileio": wl.prep.extra.get("fileio", "LocalFileIO"),
                            "fileio_latency_s": wl.prep.extra.get("latency_s", 0.0)},
            "sizes": wl.describe(),
            "calibration": calibration,
            "spark_start_s": spark_start_s, "setup_reps_s": setup_s,
            "warmup_s": warmup_s, "episodes": episodes, "measured_s": measured_s,
            "checks_s": finish_s,
            "unit_walls_s": dict(r.unit_walls),
            "samples_per_metric": {k: len(_flat(und, k)) + len(_flat(trc, k))
                                   for k in ("merge", "read", "maintain")},
            "ops_failed_frac": r.failed / max(1, r.attempted),
            "failures": r.failures,
            # per key, in episode-position order
            "samples": {k: _flat(und, k) + _flat(trc, k)
                        for k in ("merge", "read", "maintain", "fileio_wait", "peak_rss_mb")},
        }
        if not args.trace:
            values = _e2e(und, setup_s)
            names = spec["end_to_end"]
        else:
            traced_e2e = _e2e(trc, setup_s[1:2])
            untraced_e2e = _e2e(und, setup_s[2:3])
            overhead = {k: traced_e2e[k] - untraced_e2e[k] for k in traced_e2e}
            detail["trace_overhead"] = overhead
            waits = _flat(und, "fileio_wait") + _flat(trc, "fileio_wait")
            extra = {"datagen.s": median(datagen_s),
                     # the operation latencies, from the untraced episodes
                     **{k: untraced_e2e[k] for k in ("merge_p50_s", "read_p50_s", "maintain_s")},
                     "peak_rss_mb": median(detail["samples"]["peak_rss_mb"]),
                     "icelite.fileio.maintain_share":
                         median(waits) / median(detail["samples"]["maintain"])
                         if waits else 0.0,
                     **{f"overhead.{k}": v for k, v in overhead.items()}}
            values = {}
            for m in spec["per_layer"]:
                n = m["name"]
                values[n] = extra[n] if n in extra else median(
                    [e.get(n, 0.0) for e in r.layer_episodes])
            names = spec["per_layer"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
        if args.workload == "rewrite" and detail["samples"]["maintain"]:
            detail["rewrite_images_per_s"] = (
                wl.prep.rows / median(detail["samples"]["maintain"]))
        result = {"correct": r.failed == 0 and r.attempted > 0,
                  "attempted": r.attempted, "failed": r.failed, "metrics": metrics}
        return detail, result
    finally:
        spark.stop()
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("rewrite", "cdc_maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes (the benchmark's tests)")
    ap.add_argument("--plant", choices=("drop-row",), default=None,
                    help="test hook: plant a fault the correctness checks must catch")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind normally: stop Spark, wait for the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "olake_spark")) or not os.path.isfile(spec_path):
        print(f"perfbench: no olake_spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, HERE)
    try:
        detail, result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
