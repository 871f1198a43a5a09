#!/usr/bin/env python3
"""Benchmark runner for eel_sdk_spark.

    python3 perfbench/run.py --workload bulk_roundtrip --seed 1 \\
        --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload
    python3 perfbench/run.py --selftest

Runs one workload at ``local[<cores>]`` from a single driver process, as
a closed loop with one client: the next operation starts when the
previous one returns. The loop runs whole rounds, each kind once a
round, as many as fit ``--seconds`` at the workload's measured round
time, so every run does the same work. Inputs come from ``--seed``
only. Every operation's output is checked; the last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). The lines before it print the same run figure by
figure, with units, including the per-operation and per-codec detail.

End-to-end metrics, on every workload:

- ``setup_s``: ``TreeCpu`` seconds (see ``op_cpu_s``) of session
  start, plus the median of three input-and-table builds, plus one warm
  pass of every operation kind. Computing the expected results and
  checking the warm pass's outputs are left out. The wall-time twin
  ``setup_wall_s`` is printed but not gated: a host steal episode
  (15-22% steal) raised its median over ten runs by 25%, and the CPU
  figures by 10%.
- ``op_cpu_s``: geometric mean over the workload's operation kinds of
  each kind's median CPU time per operation: user plus system time of
  the benchmark's own process tree (driver, Spark JVM, Python workers),
  read from ``/proc/<pid>/stat``, less the JVM's JIT compiler threads
  (see ``TreeCpu``). The wall-time twin ``op_p50_s`` is printed but
  not gated: on a shared VM, host CPU steal moves it far more than
  CPU time. The gate is therefore blind to latency changes
  that leave CPU time alone (less idle waiting, more parallelism).
- ``stored_ratio``: committed eel data-file bytes over raw bytes of the
  workload's table as set up.

Per-layer metrics (``--trace 1``, same names on every workload):
``op.*`` is the mean over the workload's operation kinds of each kind's
median Spark jobs, DataFrame-build time, driver self time (wall minus
the union of its job intervals), executor run and CPU time and shuffle
MB, read per job group from the status store, and ``cpu_s``, the
operation's ``TreeCpu`` seconds; the ``<kind>.*`` lines
before the JSON give each kind. ``codecs``, ``selector``, ``channel``,
``table``, ``checkpoint`` and ``datasource`` come from
``layers.probe_layers``; ``trace.op_p50_s`` and ``trace.op_cpu_s`` are
``op_p50_s`` and ``op_cpu_s`` measured with tracing on, to compare with
an untraced run of the same seed.

All scratch state lives under ``.perfbench_work/`` in the checkout and
is removed on exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args(argv)
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    return a


def driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the engine's
    48g default does not fit small machines."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def prepare_env(work: Path) -> int:
    """Point every writer (Python, JVM, Spark) inside ``work`` and size
    Spark for this machine. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    py_path = [str(ROOT)] + [p for p in
                             os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
        "PYTHONPATH": ":".join(py_path),
        "SPARK_GRAFT_CPUS": str(cpus),
        "EEL_DRIVER_MEM": driver_mem(),
        # the launcher JVM, like the driver, would otherwise write
        # /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf {shlex.quote('spark.local.dir=' + str(work / 'local'))}",
            "--conf " + shlex.quote(
                "spark.sql.warehouse.dir=" + str(work / "warehouse")),
            "--conf " + shlex.quote(
                "spark.hadoop.hadoop.tmp.dir=" + str(work / "tmp")),
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--driver-java-options " + shlex.quote(
                f"-Djava.io.tmpdir={work / 'tmp'} "
                f"-Dderby.system.home={work} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads"),
            "pyspark-shell"]),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def start_spark(cpus: int):
    from eel_sdk_spark.session import get_spark
    from eel_sdk_spark.sources.eel_datasource import register

    spark = get_spark(app="perfbench", cpus=cpus)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal ... (machine-wide; only reported, never gated)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


CLK_TCK = os.sysconf("SC_CLK_TCK")
STEAL = 7


def _stat(path: str) -> list[str]:
    with open(path) as f:
        # the command name may hold spaces: split after it
        return f.read().rsplit(")", 1)[1].split()


class TreeCpu:
    """CPU seconds (user + system) of this process and every descendant:
    the driver, the Spark JVM it launched and the JVM's Python workers.
    Reaped children count through their parent's cutime/cstime, so a
    worker that exits mid-operation is not lost. Other processes on the
    machine are not counted, nor is the JVM's JIT compiler: compiling
    is warm-up, and it varied by up to 2.6 s per operation between
    otherwise equal operations."""

    def __init__(self):
        self._root = os.getpid()
        self._jit_tids: dict[int, list[str]] = {}

    def _jit_ticks(self, pid: int) -> int:
        """CPU ticks of a JVM's JIT compiler threads. The session runs
        with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads),
        so none exits and takes its time out of the per-thread sum."""
        if pid not in self._jit_tids:
            tids = []
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        tids.append(tid)
            self._jit_tids[pid] = tids
        return sum(sum(int(x) for x in
                       _stat(f"/proc/{pid}/task/{t}/stat")[11:13])
                   for t in self._jit_tids[pid])

    def seconds(self) -> float:
        parent, cpu = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                rest = _stat(f"/proc/{d}/stat")
            except (OSError, IndexError):
                continue  # exited while listing
            pid = int(d)
            parent[pid] = int(rest[1])
            cpu[pid] = sum(int(x) for x in rest[11:15])
        total = 0
        for pid, ticks in cpu.items():
            p = pid
            while p not in (self._root, 0, 1) and p in parent:
                p = parent[p]
            if p != self._root:
                continue
            try:
                java = os.readlink(f"/proc/{pid}/exe").endswith("/java")
                total += ticks - (self._jit_ticks(pid) if java else 0)
            except OSError:
                total += ticks  # exited since the listing
        return total / CLK_TCK


class Recorder:
    """Runs one operation under its own job group and records it."""

    def __init__(self, spark, cpu: TreeCpu, clock=None):
        self._sc = spark.sparkContext
        self._clock = clock
        self._cpu = cpu
        self.ops: list[dict] = []
        self.timed = False

    def __call__(self, kind, fn) -> None:
        group = f"perfbench-{len(self.ops)}-{kind}"
        self._sc.setJobGroup(group, kind, False)
        cpu0 = self._cpu.seconds()
        start = time.time()
        t0 = time.perf_counter()
        try:
            ok, build_s = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, build_s = False, 0.0
        wall = time.perf_counter() - t0
        cpu = self._cpu.seconds() - cpu0
        self._sc._jsc.clearJobGroup()
        if self._clock is not None:
            build_s += self._clock.take_build()
        if not ok:
            print(f"FAILED {kind} (op {len(self.ops)})", file=sys.stderr)
        self.ops.append({"kind": kind, "group": group, "start": start,
                         "end": start + wall, "wall": wall,
                         "cpu": cpu,
                         "build_s": build_s, "ok": bool(ok),
                         "timed": self.timed})


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def supported_percentile(n: int) -> int | None:
    """Highest of p90/p75/p50 with at least 10 samples beyond it."""
    for p in (90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(xs, p: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def in_workdir(label: str, fn) -> int:
    """Run ``fn(work, cpus)`` with a private work directory that is
    removed afterwards, whatever happens."""
    work = ROOT / ".perfbench_work" / f"{os.getpid()}-{label}"
    try:
        return fn(work, prepare_env(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def measured(cpu: TreeCpu, fn) -> tuple[float, float]:
    """(wall seconds, TreeCpu seconds) of ``fn()``."""
    c, t = cpu.seconds(), time.perf_counter()
    fn()
    return time.perf_counter() - t, cpu.seconds() - c


def run_workload(args, work: Path, cpus: int) -> int:
    load_before, cpu_before = os.getloadavg()[0], cpu_times()
    cpu = TreeCpu()
    c0, t0 = cpu.seconds(), time.perf_counter()
    spark = start_spark(cpus)
    try:
        from perfbench.workloads import WORKLOADS

        session = time.perf_counter() - t0, cpu.seconds() - c0
        clock = None
        if args.trace:
            from perfbench.layers import CallClock

            clock = CallClock()
            clock.install()
        wl = WORKLOADS[args.workload](spark, args.seed, str(work / "data"),
                                      cpus)
        rec = Recorder(spark, cpu, clock)

        builds = [measured(cpu, wl.build) for _ in range(3)]
        ref_s = measured(cpu, wl.reference)[0]
        warm = measured(cpu, lambda: wl.warm(rec))
        # the warm pass may check outputs; the checks are not set-up work
        warm = warm[0] - wl.check_s, warm[1] - wl.check_cpu_s
        setup_wall_s, setup_s = (
            session[i] + statistics.median(b[i] for b in builds) + warm[i]
            for i in (0, 1))
        # measured on the set-up table, so it does not depend on how
        # many appends the timed loop fits in
        stored = wl.stored_ratio()
        if clock is not None:
            clock.reset()

        rec.timed = True
        # a fixed number of whole rounds (a round runs every kind once):
        # the same work, and the same samples per kind, in every run
        rounds = math.ceil(args.seconds / wl.round_s)
        loop_t0 = time.perf_counter()
        for _ in range(rounds * len(wl.kinds)):
            rec(*wl.next_op())
        loop_s = time.perf_counter() - loop_t0
        rec.timed = False
        wl.final_check(rec)

        timed = [o for o in rec.ops if o["timed"]]
        walls = {k: [o["wall"] for o in timed if o["kind"] == k and o["ok"]]
                 for k in wl.kinds}
        if not all(walls.values()):
            print("a kind has no successful timed operation", file=sys.stderr)
            return 1
        med = {k: statistics.median(v) for k, v in walls.items()}
        op_p50 = geomean(med.values())
        cpus_of = {k: [o["cpu"] for o in timed if o["kind"] == k and o["ok"]]
                   for k in wl.kinds}
        # one jiffy floor keeps the log finite for a kind that idles
        op_cpu = geomean(max(statistics.median(v), 1 / CLK_TCK)
                         for v in cpus_of.values())
        failed = sum(not o["ok"] for o in rec.ops)
        attempted = len(rec.ops)

        print(f"workload {args.workload} seed {args.seed} cores {cpus} "
              f"master local[{cpus}] driver_mem {os.environ['EEL_DRIVER_MEM']}"
              f" seconds {args.seconds} trace {args.trace}")
        print(f"timed loop {loop_s:.3f} s, {rounds} rounds, {len(timed)} ops, "
              f"{attempted} attempted in total (warm pass included)")
        for k in wl.kinds:
            xs = walls[k]
            p = supported_percentile(len(xs))
            extra = (f" p{p}={percentile(xs, p):.4f}" if p and p > 50
                     else "")
            print(f"op {k}: n={len(xs)} p50={med[k]:.4f} s{extra} "
                  f"(highest percentile with 10 samples beyond: "
                  f"{'p%d' % p if p else 'none, p50 only'})")
            print(f"samples {k} " + " ".join(f"{x:.3f}" for x in xs))
            print(f"cpu_samples {k} " + " ".join(
                f"{x:.2f}" for x in cpus_of[k]))
        named = wl.named(med) + [
            ("op_p50_s", op_p50, "s"),
            ("op_cpu_s", op_cpu, "s"),
            ("stored_ratio", stored, "count"),
            ("setup_s", setup_s, "s"),
            ("setup_wall_s", setup_wall_s, "s"),
            ("fail_ratio", failed / attempted, "count"),
        ]
        for name, v, unit in named:
            print(f"metric {name} {v:.6g} {unit}")
        for i, unit in ((0, "wall_s"), (1, "cpu_s")):
            print(f"setup {unit}: session {session[i]:.3f} builds "
                  f"{' '.join('%.3f' % b[i] for b in builds)} "
                  f"warm {warm[i]:.3f}")
        print(f"not in setup: reference_s {ref_s:.3f} "
              f"check_s {wl.check_s:.3f}")

        if args.trace:
            metrics = trace_metrics(spark, wl, rec, clock, work)
            metrics["trace.op_p50_s"] = (op_p50, "s")
            metrics["trace.op_cpu_s"] = (op_cpu, "s")
            for name, (v, unit) in metrics.items():
                print(f"layer {name} {v:.6g} {unit}")
        else:
            metrics = {"setup_s": (setup_s, "s"), "op_cpu_s": (op_cpu, "s"),
                       "stored_ratio": (stored, "count")}
        wl.close()
    finally:
        stop_spark(spark)
    # steal: time the host gave this machine's cores to someone else
    delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    print(f"load_1m before {load_before:.2f} after {os.getloadavg()[0]:.2f}"
          f" cpu_steal_share {delta[STEAL] / max(1, sum(delta)):.3f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def trace_metrics(spark, wl, rec, clock, work: Path):
    from perfbench.layers import probe_layers
    from perfbench.status import StatusReader, covered

    timed = [o for o in rec.ops if o["timed"] and o["ok"]]
    t = time.perf_counter()
    groups = StatusReader(spark).read([o["group"] for o in timed])
    read_s = time.perf_counter() - t

    fields = (("jobs", "count"), ("build_s", "s"), ("driver_self_s", "s"),
              ("executor_run_s", "s"), ("executor_cpu_s", "s"),
              ("shuffle_mb", "MB"), ("cpu_s", "s"))
    per_kind = {}
    for k in wl.kinds:
        rows = []
        for o in (o for o in timed if o["kind"] == k):
            g = groups[o["group"]]
            rows.append({
                "jobs": g.jobs, "build_s": o["build_s"],
                "driver_self_s": o["wall"] - covered(g.intervals, o["start"],
                                                     o["end"]),
                "executor_run_s": g.executor_run_s,
                "executor_cpu_s": g.executor_cpu_s,
                "shuffle_mb": g.shuffle_mb, "cpu_s": o["cpu"]})
        per_kind[k] = {f: statistics.median(r[f] for r in rows)
                       for f, _ in fields}
        for f, unit in fields:
            print(f"layer {k}.{f} {per_kind[k][f]:.6g} {unit}")

    metrics = {f"op.{f}": (statistics.mean(per_kind[k][f]
                                           for k in wl.kinds), unit)
               for f, unit in fields}
    tbl, key, keys, src = wl.table()
    layer, detail = probe_layers(spark, tbl, key, keys, src, clock,
                                 str(work / "probe"))
    for name, v, unit in detail:
        print(f"layer {name} {v:.6g} {unit}")
    metrics.update(layer)
    metrics["trace.read_s"] = (read_s, "s")
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "eel_sdk_spark" / "__init__.py").is_file() \
            or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no eel_sdk_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.selftest:
        from perfbench.selftest import main as selftest

        return in_workdir("selftest", selftest)
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        # one process per workload, as the benchmark is normally run
        rcs = [subprocess.run([sys.executable, __file__, "--workload", w,
                               "--seed", str(args.seed), "--seconds",
                               str(args.seconds), "--trace",
                               str(args.trace)]).returncode
               for w in WORKLOADS]
        return max(rcs)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    return in_workdir(args.workload,
                      lambda work, cpus: run_workload(args, work, cpus))


if __name__ == "__main__":
    sys.exit(main())
