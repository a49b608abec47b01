"""Benchmark of the bike-share analytics engine.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 18 --trace 0

Run from the root of a source checkout. Inputs are generated from
``--seed`` under ``.bench_build/perfbench``; every file the run writes
stays there. The package is driven from outside, in this one process,
on ``local[1]``, by a closed loop with one client. The last line
of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its
per-layer metrics (and the spans go to ``.bench_build/perfbench``).
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: session set-ups per run; ``setup_s`` is the median CPU time of all
#: but the first, which also launches the JVM
SETUP_REPS = 3
#: timed rounds per run at least, so that each operation has a repeat
MIN_ROUNDS = 2
#: the host-speed probe: a fixed JVM job, run PROBE_WARMUP times before
#: timing and PROBE_REPS times after each timed round
PROBE_INTS = 2_000_000
PROBE_WARMUP = 2
PROBE_REPS = 2
#: the probe's CPU time on the reference host; CPU times are scaled to it
PROBE_NOMINAL_S = 0.3
RSS_SAMPLE_S = 0.1


def _host_env() -> int:
    """Host settings, all through variables the package reads. Values
    already in the environment win. Spark runs one task slot: parallel
    tasks on a host that shares its CPUs made an operation's CPU time
    vary from run to run several times more than serial ones did."""
    cores = os.environ.setdefault("SPARK_GRAFT_CPUS", "1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.environ["SPARK_LOCAL_DIRS"])
    # Python workers import the package by name (mapInPandas, pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    return int(cores)


class Context:
    """What a workload needs from the run: the session, the seed, the
    tracer (None when untraced) and the output-check ledger."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.work = WORK
        self.data_root = os.path.join(WORK, "data")
        self.spark = None
        self.tracer = None
        self.checks: dict[str, str | None] = {}
        self._oracles: dict = {}

    def oracle(self, data_dir: str):
        from check import Oracle

        if data_dir not in self._oracles:
            self._oracles[data_dir] = Oracle(data_dir)
        return self._oracles[data_dir]

    def record_check(self, name: str, reason: str | None) -> None:
        if reason:
            print(f"perfbench: wrong output from {name}: {reason}", file=sys.stderr)
        if self.checks.get(name) is None:
            self.checks[name] = reason

    def checked_ok(self, name: str) -> bool:
        return name in self.checks and self.checks[name] is None

    def close(self) -> None:
        for o in self._oracles.values():
            o.close()


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        st = _stat(f"/proc/{entry}/stat") if entry.isdigit() else None
        if st:
            children.setdefault(st[1][0], []).append(int(entry))
    return children


def _tree(pid: int) -> list[int]:
    children, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _stat(path: str) -> tuple[str, list[int]] | None:
    """(command name, numeric fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            head, _, rest = f.read().rpartition(")")
    except OSError:
        return None
    return head.partition("(")[2], [int(x) for x in rest.split()[1:]]


def cpu_sample() -> tuple[int, dict]:
    """CPU ticks used so far by this process and all its descendants
    (the driver JVM, the Python worker daemon and the workers, including
    exited ones), and by each live JIT compiler thread among them."""
    ticks, jit = 0, {}
    for p in _tree(os.getpid()):
        st = _stat(f"/proc/{p}/stat")
        if st is None:
            continue
        ticks += sum(st[1][10:14])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            t = _stat(f"/proc/{p}/task/{tid}/stat")
            if t and t[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit[(p, tid)] = sum(t[1][10:12])  # utime stime
    return ticks, jit


def cpu_seconds(start: tuple[int, dict], end: tuple[int, dict]) -> float:
    """CPU seconds between two samples, less the time JIT compiler
    threads spent. Compilation is JVM warm-up: it runs in background
    threads, in bursts whose timing differs from run to run, and took a
    third to two thirds of an analyst query's CPU time over the first
    three passes after the check pass. A compiler thread that exited in
    between keeps its last ticks in the total; the JVM retires only
    idle ones."""
    jit = sum(t - start[1].get(k, 0) for k, t in end[1].items())
    return (end[0] - start[0] - jit) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus all its descendant
    processes (the Python worker daemon and its workers), sampled in the
    traced run only."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, 0
        self._stop_event = threading.Event()

    def _tree_rss_kb(self) -> int:
        total = 0
        for p in _tree(self.pid):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_event.wait(RSS_SAMPLE_S)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak_kb / 1024.0


def _setup(workload) -> tuple[object, list[float], list[float]]:
    """Start the session SETUP_REPS times (the first start launches the
    JVM, later ones restart the SparkContext in it) and warm it by
    loading and counting every input table, with the table schema cache
    emptied first. Returns the last session and each set-up's wall and
    CPU seconds."""
    from tfl_bikes_data_pipeline_spark import tables
    from tfl_bikes_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    spark, walls, cpus = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        tables._SCHEMA_CACHE.clear()
        t0, cpu0 = time.perf_counter(), cpu_sample()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        for t in tables.TABLE_NAMES:
            tables.load_table(spark, workload.data, t).count()
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds(cpu0, cpu_sample()))
    return spark, walls, cpus


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def probe(spark) -> float:
    """CPU seconds the JVM takes to sort a fixed array of random ints.

    The host shares its CPUs, and how fast it runs changes from minute
    to minute with other tenants' load: the same run took a third more
    CPU time in a busy stretch. The probe is work outside the package,
    so its time moves only with the host; CPU times are reported scaled
    by PROBE_NOMINAL_S over the run's median probe time."""
    cpu0 = cpu_sample()
    spark._jvm.java.util.Random(0).ints(PROBE_INTS).sorted().sum()
    return cpu_seconds(cpu0, cpu_sample())


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = _host_env()
    if not os.path.isdir(os.path.join(ROOT, "tfl_bikes_data_pipeline_spark")):
        print(f"perfbench: no package source under {ROOT}", file=sys.stderr)
        return 2
    from tracer import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    ctx = Context(args.seed)
    t0 = time.perf_counter()
    workload.prepare(ctx)  # input generation, not part of set-up time
    _log(f"inputs ready in {time.perf_counter() - t0:.1f} s")

    ctx.spark, setup_walls, setup_cpus = _setup(workload)
    _log("set-ups " + ", ".join(f"{t:.2f}" for t in setup_walls) + " s, "
         + ", ".join(f"{t:.2f}" for t in setup_cpus) + " cpu-s")
    ctx.jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    sampler = None
    if args.trace:
        sampler = RssSampler(ctx.jvm_pid)
        sampler.start()
    results, failures, probes = [], 0, []
    # a fixed number of rounds, sized to last about --seconds on the
    # reference host, so that every run times the same work at the same
    # point of the JVM's warm-up
    rounds = max(MIN_ROUNDS, round(args.seconds / workload.round_s))
    try:
        t0 = time.perf_counter()
        workload.check_pass(ctx)
        for _ in range(PROBE_WARMUP):
            probe(ctx.spark)
        _log(f"check pass {time.perf_counter() - t0:.1f} s")
        if args.trace:
            ctx.tracer = Tracer(ctx.spark, cores)
        timed = 0.0
        for _ in range(rounds):
            for op in workload.order(ctx.rng):
                cpu0 = cpu_sample()
                try:
                    r = workload.run(ctx, op)
                except Exception:
                    traceback.print_exc()
                    failures += 1
                    continue
                results.append(r)
                timed += r.seconds
                r.cpu = cpu_seconds(cpu0, cpu_sample())
                _log(f"op {r.name} {r.seconds:.3f} s, {r.cpu:.3f} cpu-s")
            probes += [probe(ctx.spark) for _ in range(PROBE_REPS)]
        _log(f"timed {len(results)} ops in {timed:.1f} s, {rounds} rounds; probes "
             + ", ".join(f"{p:.2f}" for p in probes) + " cpu-s")
        tail = workload.traced_tail(ctx) if ctx.tracer else []
    finally:
        peak_mb = sampler.stop() if sampler else 0.0
        if ctx.tracer:
            ctx.tracer.uninstall()
        ctx.close()
        _shutdown(ctx.spark)

    attempted = len(results) + len(tail) + failures
    failed = failures + sum(1 for r in results + tail if not ctx.checked_ok(r.check))
    ok = [r for r in results if ctx.checked_ok(r.check)]
    if not ok:
        print("perfbench: no operation completed correctly", file=sys.stderr)
        return 1
    scale = PROBE_NOMINAL_S / statistics.median(probes)
    op_p50 = statistics.median(r.seconds for r in ok)
    cpu_p50 = statistics.median(r.cpu for r in ok) * scale
    ops_per_cpu = len(ok) / (sum(r.cpu for r in ok) * scale)
    _log(f"wall: op p50 {op_p50:.3f} s; host scale {scale:.3f}")
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(path, {"workload": args.workload, "seed": args.seed, "cores": cores})
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        layers = {
            **ctx.tracer.metrics(op_p50),
            "trace.op_cpu_p50_s": (cpu_p50, "s"),
            "jvm.peak_rss_mb": (peak_mb, "MB"),
            "host.probe_cpu_s": (statistics.median(probes), "s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup_cpus[1:]) * scale, "unit": "s"},
            "op_cpu_p50_s": {"value": cpu_p50, "unit": "s"},
            "ops_per_cpu_s": {"value": ops_per_cpu, "unit": "1/s"},
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
