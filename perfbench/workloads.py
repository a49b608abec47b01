"""The workloads: what one operation is, how it is timed, and how its
output is checked.

Every workload runs a closed loop with one client. The timed region is
made of whole rounds; a round runs each of the workload's operations
once, in an order drawn from the run's seed. A run times
``--seconds / round_s`` rounds, at least two, where ``round_s`` is
the wall time of one round on the reference host, so every run times
the same mix and each operation has a repeat.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

import datagen
from tracer import stream_progress

ANALYST_QUERIES = (
    # plans/queries.py analyst shapes
    "q_topk_count", "q_topk_join_count", "q_filter_hour_topk", "q_group_by_hour",
    "q_moving_avg", "q_case_bucket_count", "q_bucket_by_location",
    "q_join_cte_inner", "q_star_view",
    # a plans/sql_surface.py view and a tpch_suite shape
    "q_scalar_subquery", "q_returned_items",
)
#: the monthly load's transforms (time dimension, fact build, the
#: incremental append, the weather alignment and ids) as read-only plans
PIPELINE_QUERIES = (
    "p_dim_time", "p_fact_build", "p_incremental_append", "p_weather_align", "p_weather_ids",
)
STREAM_QUERY = "q_stream_tumbling_warehouse"


class Result:
    """Outcome of one timed operation; ``check`` names the output check
    that decides whether it was correct."""

    __slots__ = ("name", "seconds", "check", "cpu")

    def __init__(self, name: str, seconds: float, check: str):
        self.name, self.seconds, self.check = name, seconds, check
        self.cpu = 0.0


def timed_query(ctx, name: str, data: str, extra=None):
    """Build registry query ``name`` over ``data`` and run it to a
    ``noop`` sink. Returns (seconds, DataFrame, extra(...)). The traced
    run's forced planning happens between the two timed parts and is
    left out of the seconds."""
    from tfl_bikes_data_pipeline_spark import registry

    tracer = ctx.tracer
    if tracer:
        tracer.begin()
    t0 = time.perf_counter()
    df = registry.QUERIES[name](ctx.spark, data)
    build_s = time.perf_counter() - t0
    if tracer:
        tracer.built(df)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t1
    more = extra() if extra else {}
    if tracer:
        tracer.end(name, build_s, exec_s, more)
    return build_s + exec_s, df, more


class QueryMix:
    """Registry queries, each built and run to a ``noop`` sink. Two
    untimed passes come before timing: the first checks every output,
    the second only warms the session."""

    sf = 0.01
    round_s = 4.5
    queries: tuple[str, ...] = ()

    def prepare(self, ctx) -> None:
        self.data = datagen.ensure(ctx.data_root, self.sf, ctx.seed)

    def order(self, rng) -> list[str]:
        return [str(n) for n in rng.permutation(self.queries)]

    def check_pass(self, ctx) -> None:
        from tfl_bikes_data_pipeline_spark import registry

        oracle = ctx.oracle(self.data)
        for name in self.queries:
            df = registry.QUERIES[name](ctx.spark, self.data)
            ctx.record_check(name, oracle.mismatch(df.toArrow(), registry.ORACLES[name]))
        # a second untimed pass: the first timed round is otherwise still
        # visibly slower than the next from JIT warm-up
        for name in self.order(ctx.rng):
            timed_query(ctx, name, self.data)

    def run(self, ctx, name: str) -> Result:
        seconds, _, _ = timed_query(ctx, name, self.data)
        return Result(name, seconds, name)

    def traced_tail(self, ctx) -> list[Result]:
        """Untimed operations the traced run adds after the timed rounds."""
        return []


class AnalystMix(QueryMix):
    queries = ANALYST_QUERIES


class PipelineMix(QueryMix):
    """The monthly load's transforms, timed as queries; and, in the
    traced run only, one untimed write round over the generated tables,
    whose events all fall in one month.

    The write round loads a fresh warehouse with ``engine.run_stage``:
    the ``setup`` stage, the month's load (``weather`` then
    ``journeys``), one AvailableNow drain of ``STREAM_QUERY`` and an
    idempotent re-load of the month. Its checks: the drain's output
    against its oracle (the returned frame reads the drained memory
    sink), and the month's ``fact_events`` and ``dim_rental`` partitions
    holding exactly the month's source rows, before and after the
    re-load."""

    queries = PIPELINE_QUERIES

    def prepare(self, ctx) -> None:
        super().prepare(ctx)
        self.month = datagen.EVENTS_MONTH
        self.month_rows = _footer_rows(os.path.join(self.data, "events.parquet"))
        self.warehouse = os.path.join(ctx.work, "warehouse")

    def traced_tail(self, ctx) -> list[Result]:
        from tfl_bikes_data_pipeline_spark import registry
        from tfl_bikes_data_pipeline_spark.streaming import jobs

        out = [self._stage(ctx, "setup"), self._stage(ctx, "load")]
        jobs.LAST_PROGRESS = []
        seconds, df, _ = timed_query(
            ctx, STREAM_QUERY, self.data, lambda: {"stream": stream_progress(jobs.LAST_PROGRESS)})
        ctx.record_check(STREAM_QUERY, ctx.oracle(self.data).mismatch(
            df.toArrow(), registry.ORACLES[STREAM_QUERY]))
        out.append(Result(STREAM_QUERY, seconds, STREAM_QUERY))
        before = self._counts()
        out.append(self._stage(ctx, "reload"))
        counts, n = self._counts(), self.month_rows
        bad = []
        if counts != (n, n):
            bad.append(f"(fact_events, dim_rental) rows {counts} != {(n, n)}")
        if counts != before:
            bad.append(f"re-load changed them from {before}")
        ctx.record_check("month_counts", "; ".join(bad) or None)
        return out

    def _stage(self, ctx, op: str) -> Result:
        from tfl_bikes_data_pipeline_spark import engine

        tracer = ctx.tracer
        if op == "setup":
            shutil.rmtree(self.warehouse, ignore_errors=True)
            month, stages = None, ("setup",)
        else:
            month, stages = self.month, ("weather", "journeys")
        tracer.begin()
        t_start = time.time()
        times: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        for stage in stages:
            ts = time.perf_counter()
            engine.run_stage(ctx.spark, self.warehouse, stage, month=month, sf_dir=self.data)
            times[stage] = [time.perf_counter() - ts]
        seconds = time.perf_counter() - t0
        if op == "reload":
            times = {"rerun": [seconds]}
        files, nbytes = _written_since(self.warehouse, t_start)
        tracer.end(op, 0.0, seconds, {
            "engine": times, "files_written": files, "bytes_written": nbytes,
            "rows_loaded": self.month_rows if month else 0,
        })
        return Result(op, seconds, "month_counts")

    def _counts(self) -> tuple[int, int]:
        """(fact_events, dim_rental) rows in the month's partition."""
        out = []
        for table in ("fact_events", "dim_rental"):
            d = os.path.join(self.warehouse, table, f"ym={self.month}")
            files = os.listdir(d) if os.path.isdir(d) else []
            out.append(sum(_footer_rows(os.path.join(d, f))
                           for f in files if f.endswith(".parquet")))
        return tuple(out)


def _footer_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _written_since(root: str, since: float) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= since:
                    files += 1
                    nbytes += st.st_size
    return files, nbytes


WORKLOADS = {"analyst_mix": AnalystMix, "pipeline_mix": PipelineMix}
