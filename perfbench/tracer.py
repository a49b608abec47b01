"""Per-layer tracing, done from outside the package.

A :class:`Tracer` wraps the public functions of the layers it observes
(``session.ensure_runtime_confs``, ``tables.load_table``,
``warehouse.write_partitioned``) in every package module that imported
them, reads Spark's own counters around each operation (scheduler job
and stage ids, the status store's per-stage task metrics, Catalyst's
phase tracker, JVM management beans, persisted RDDs) and keeps one span
record per operation in memory. :meth:`Tracer.write` dumps the spans
at the end of the run; :meth:`Tracer.metrics` reduces them to the
``per_layer`` metrics of ``BENCHMARK.json``.

Nothing here runs when ``--trace 0``: the untraced run calls no wrapper
and reads no counter.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time

PACKAGE = "tfl_bikes_data_pipeline_spark"

#: (module, function) pairs whose calls are counted and timed, and the
#: metric prefix each reports under.
WRAPPED = (
    ("session", "ensure_runtime_confs", "session.ensure_runtime_confs"),
    ("tables", "load_table", "tables.load_table"),
    ("warehouse", "write_partitioned", "warehouse.write_partitioned"),
)

STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("task_run_ms", "executorRunTime"),
    ("task_cpu_ns", "executorCpuTime"),
    ("input_bytes", "inputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_mem_bytes", "memoryBytesSpilled"),
    ("spill_disk_bytes", "diskBytesSpilled"),
    ("failed_tasks", "numFailedTasks"),
)


class Tracer:
    """Span recorder for one benchmark run (one SparkSession)."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self._calls: dict[str, list] = {}
        self._depth = 0
        self._originals: list[tuple] = []
        from tfl_bikes_data_pipeline_spark import tables

        self._tables = tables
        self._install()

    # -- module-function spans -------------------------------------------

    def _install(self) -> None:
        for mod_name, fn_name, key in WRAPPED:
            orig = getattr(sys.modules[f"{PACKAGE}.{mod_name}"], fn_name)
            wrapper = self._wrap(orig, key)
            for name, mod in list(sys.modules.items()):
                if name.startswith(PACKAGE) and getattr(mod, fn_name, None) is orig:
                    setattr(mod, fn_name, wrapper)
                    self._originals.append((mod, fn_name, orig))

    def uninstall(self) -> None:
        for mod, fn_name, orig in self._originals:
            setattr(mod, fn_name, orig)
        self._originals.clear()

    def _wrap(self, fn, key: str):
        calls = self._calls
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            top = tracer._depth == 0
            tracer._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth -= 1
                calls.setdefault(key, []).append((time.perf_counter() - t0, top))

        return wrapper

    def _take_calls(self) -> dict[str, list]:
        out = {k: list(v) for k, v in self._calls.items()}
        self._calls.clear()
        return out

    # -- Spark counters ----------------------------------------------------

    def _ids(self) -> tuple[int, int]:
        dag = self.jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def _stage_totals(self, first: int, end: int) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        tot = {k: 0 for k, _ in STAGE_FIELDS}
        tot["stages"] = 0
        for sid in range(first, end):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped) stages are absent
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            for k, getter in STAGE_FIELDS:
                tot[k] += getattr(sd, getter)()
        return tot

    def _jvm_state(self) -> dict[str, float]:
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        infos = self.jsc.getRDDStorageInfo()
        return {
            "gc_s": gc_ms / 1000.0,
            "heap_used_mb": heap / 1048576.0,
            "persisted_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            "persisted_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        }

    # -- one operation -------------------------------------------------------

    def begin(self) -> None:
        t0 = time.perf_counter()
        self._calls.clear()
        self._job0, self._stage0 = self._ids()
        self._gc0 = self._jvm_state()["gc_s"]
        self._schema0 = len(self._tables._SCHEMA_CACHE)
        # operations with no separate plan (engine stages) never call built()
        self._build_jobs, self._build_calls, self._forced_s = 0, {}, 0.0
        self._phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._own_s = time.perf_counter() - t0

    def built(self, df) -> dict[str, float]:
        """After the plan is built: count build-time jobs, then force
        physical planning so Catalyst's tracker holds all three phases
        (the noop write plans afresh, so this planning is tracing cost)."""
        t_own = time.perf_counter()
        job1, _ = self._ids()
        self._build_jobs = job1 - self._job0
        self._build_calls = self._take_calls()
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        self._forced_s = time.perf_counter() - t0
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        self._phases = out
        self._own_s += time.perf_counter() - t_own
        return out

    def end(self, op: str, build_s: float, exec_s: float, extra: dict | None = None) -> dict:
        t_own = time.perf_counter()
        job1, stage1 = self._ids()
        stages = self._stage_totals(self._stage0, stage1)
        state = self._jvm_state()
        calls = self._build_calls
        for k, v in self._take_calls().items():
            calls.setdefault(k, []).extend(v)
        span = {
            "op": op,
            "build_s": build_s,
            "exec_s": exec_s,
            "build_jobs": self._build_jobs,
            "jobs": job1 - self._job0,
            "forced_planning_s": self._forced_s,
            # the tracer's own time in this operation: counter reads and
            # the forced planning (left out of build_s and exec_s)
            "tracer_s": self._own_s + time.perf_counter() - t_own,
            "catalyst": self._phases,
            "calls": {
                k: {"n": len(v), "s": sum(t for t, _ in v),
                    "top_s": sum(t for t, top in v if top)}
                for k, v in calls.items()
            },
            "schema_cache_misses": len(self._tables._SCHEMA_CACHE) - self._schema0,
            "stages": stages,
            "gc_s": state["gc_s"] - self._gc0,
            "heap_used_mb": state["heap_used_mb"],
            "persisted_rdds": state["persisted_rdds"],
            "persisted_bytes": state["persisted_bytes"],
        }
        # self times: build minus the outermost module calls made inside
        # it; execute is the noop write, whose own re-planning is included.
        inner = sum(v["top_s"] for k, v in span["calls"].items()
                    if k != "warehouse.write_partitioned")
        span["self"] = {
            "build_s": max(0.0, build_s - inner),
            "catalyst_s": sum(self._phases.values()),
            "execute_s": exec_s,
        }
        span.update(extra or {})
        self.spans.append(span)
        return span

    # -- output --------------------------------------------------------------

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f, indent=1)

    def metrics(self, op_p50_s: float) -> dict[str, tuple[float, str]]:
        sp = self.spans
        n = max(1, len(sp))

        def mean(get) -> float:
            return sum(get(s) for s in sp) / n

        def calls(key: str, field: str) -> float:
            return mean(lambda s: s["calls"].get(key, {}).get(field, 0))

        def stage(key: str) -> float:
            return mean(lambda s: s["stages"][key])

        wall = sum(s["build_s"] + s["exec_s"] for s in sp)
        task_s = sum(s["stages"]["task_run_ms"] for s in sp) / 1000.0
        written = sum(s.get("bytes_written", 0) for s in sp)
        read = sum(s["stages"]["input_bytes"] for s in sp if "bytes_written" in s)
        stream = [s for s in sp if "stream" in s]
        stream_n = max(1, len(stream))

        def smean(key: str) -> float:
            return sum(s["stream"][key] for s in stream) / stream_n

        def engine(stage_name: str) -> float:
            times = [t for s in sp for t in s.get("engine", {}).get(stage_name, [])]
            return statistics.median(times) if times else 0.0

        loads = [s for s in sp if s.get("rows_loaded")]
        months = [sum(s["engine"]["weather"] + s["engine"]["journeys"])
                  for s in loads if "weather" in s["engine"]]
        load_s = sum(s["exec_s"] for s in loads)
        drain_s = sum(s["build_s"] + s["exec_s"] for s in stream)

        return {
            "session.ensure_runtime_confs_calls": (calls("session.ensure_runtime_confs", "n"), "count"),
            "session.ensure_runtime_confs_s": (calls("session.ensure_runtime_confs", "s"), "s"),
            "tables.load_table_calls": (calls("tables.load_table", "n"), "count"),
            "tables.load_table_s": (calls("tables.load_table", "s"), "s"),
            "tables.schema_cache_misses": (mean(lambda s: s["schema_cache_misses"]), "count"),
            "plans.build_s": (mean(lambda s: s["build_s"]), "s"),
            "plans.build_jobs": (mean(lambda s: s["build_jobs"]), "count"),
            "catalyst.analysis_s": (mean(lambda s: s["catalyst"]["analysis"]), "s"),
            "catalyst.optimization_s": (mean(lambda s: s["catalyst"]["optimization"]), "s"),
            "catalyst.planning_s": (mean(lambda s: s["catalyst"]["planning"]), "s"),
            "exec.jobs": (mean(lambda s: s["jobs"]), "count"),
            "exec.stages": (stage("stages"), "count"),
            "exec.tasks": (stage("tasks"), "count"),
            "exec.task_run_s": (stage("task_run_ms") / 1000.0, "s"),
            "exec.task_cpu_s": (stage("task_cpu_ns") / 1e9, "s"),
            "exec.slot_busy_ratio": (task_s / (wall * self.cores) if wall else 0.0, "ratio"),
            "exec.input_bytes": (stage("input_bytes"), "bytes"),
            "exec.shuffle_read_bytes": (stage("shuffle_read_bytes"), "bytes"),
            "exec.shuffle_write_bytes": (stage("shuffle_write_bytes"), "bytes"),
            "exec.spill_bytes": (stage("spill_mem_bytes") + stage("spill_disk_bytes"), "bytes"),
            "exec.failed_tasks": (stage("failed_tasks"), "count"),
            "warehouse.write_partitioned_s": (calls("warehouse.write_partitioned", "s"), "s"),
            "warehouse.files_written": (mean(lambda s: s.get("files_written", 0)), "count"),
            "warehouse.bytes_written": (mean(lambda s: s.get("bytes_written", 0)), "bytes"),
            "warehouse.bytes_read_per_byte_written": (read / written if written else 0.0, "ratio"),
            "engine.setup_s": (engine("setup"), "s"),
            "engine.weather_s": (engine("weather"), "s"),
            "engine.journeys_s": (engine("journeys"), "s"),
            "engine.rerun_s": (engine("rerun"), "s"),
            "engine.month_load_s": (statistics.median(months) if months else 0.0, "s"),
            "engine.rows_loaded_per_s": (
                sum(s["rows_loaded"] for s in loads) / load_s if load_s else 0.0, "rows/s"),
            "streaming.batches": (smean("batches"), "count"),
            "streaming.batch_p50_s": (smean("batch_p50_s"), "s"),
            "streaming.add_batch_s": (smean("add_batch_s"), "s"),
            "streaming.query_planning_s": (smean("query_planning_s"), "s"),
            "streaming.wal_commit_s": (smean("wal_commit_s"), "s"),
            "streaming.state_commit_s": (smean("state_commit_s"), "s"),
            "streaming.state_rows": (smean("state_rows"), "count"),
            "streaming.events_per_s": (
                sum(s["stream"]["input_rows"] for s in stream) / drain_s if drain_s else 0.0,
                "rows/s"),
            "cache.persisted_rdds_after_op": (max((s["persisted_rdds"] for s in sp), default=0), "count"),
            "cache.persisted_bytes_after_op": (max((s["persisted_bytes"] for s in sp), default=0), "bytes"),
            "jvm.gc_s": (mean(lambda s: s["gc_s"]), "s"),
            "jvm.heap_used_mb": (max((s["heap_used_mb"] for s in sp), default=0.0), "MB"),
            "trace.op_p50_s": (op_p50_s, "s"),
            "trace.forced_planning_s": (mean(lambda s: s["forced_planning_s"]), "s"),
            "trace.overhead_s": (mean(lambda s: s["tracer_s"]), "s"),
        }


def stream_progress(progress: list[dict]) -> dict[str, float]:
    """Reduce one drain's ``StreamingQueryProgress`` list."""
    dur = [p.get("durationMs", {}) for p in progress]
    trig = [d.get("triggerExecution", 0) / 1000.0 for d in dur]
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    return {
        "batches": len(progress),
        "batch_p50_s": statistics.median(trig) if trig else 0.0,
        "add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
        "query_planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1000.0,
        "wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1000.0,
        "state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
    }
