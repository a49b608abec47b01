"""Central registry of declared queries and their DuckDB oracles.

``__spark_entry__.py`` (the driver contract) and ``bench.py`` both read
from here. Each entry: name → callable(spark, sf_dir) -> DataFrame, and
(where SQL-expressible) name → ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import scope
from .session import ensure_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Error-bound oracles for sketch-valued queries whose outputs are
#: approximate BY DESIGN (HLL, Greenwald-Khanna) and so can never
#: hash-match an exact engine. The SQL returns, per key row, a
#: ``<col>_lo`` / ``<col>_hi`` pair for every approximate output column
#: (non-suffixed columns are exact-match join keys); the differential
#: gate asserts key-set equality and lo <= value <= hi per cell. A
#: query appears in exactly one of ORACLES / BOUND_ORACLES.
BOUND_ORACLES: dict[str, str] = {}

#: The bench set. Module BENCH lists control the ORDER of their
#: curated head entries; after registration the set is topped up to
#: EVERY registered query (see the end of this module) — the driver
#: re-picks its pinned correctness subset each round, and a
#: pinned-but-unbenched query is a standing audit finding (a query's
#: wall-time must never be invisible in BENCH_DETAIL.md).
BENCH_QUERIES: list[str] = []


def _self_sufficient(fn: QueryFn) -> QueryFn:
    """Wrap a query so it works on ANY live session, including the plain
    (no builder confs) SparkSession the driver's correctness harness builds.
    Applies the runtime SQL confs (nanos-parquet read, UTC TZ, AQE, ...)
    before the query declares its plan, after releasing what the
    previous query kept (``scope.release``), so sequential harnesses hold
    at most one query's persisted state."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        scope.release()
        ensure_runtime_confs(spark)
        return fn(spark, sf_dir)

    return wrapped


def _register(
    queries: dict[str, QueryFn],
    oracles: dict[str, str],
    bench: list[str],
    bound_oracles: dict[str, str] | None = None,
) -> None:
    QUERIES.update({name: _self_sufficient(fn) for name, fn in queries.items()})
    ORACLES.update(oracles)
    BOUND_ORACLES.update(bound_oracles or {})
    BENCH_QUERIES.extend(bench)


def _load_all() -> None:
    from .plans import queries as analyst

    _register(analyst.QUERIES, analyst.ORACLES, list(analyst.QUERIES))

    from .plans import pipelines, sql_surface, sql_twins, tpch_suite

    _register(tpch_suite.QUERIES, tpch_suite.ORACLES, list(tpch_suite.QUERIES))
    _register(pipelines.QUERIES, pipelines.ORACLES, pipelines.BENCH)
    _register(sql_surface.QUERIES, sql_surface.ORACLES, list(sql_surface.QUERIES))
    _register(sql_twins.QUERIES, sql_twins.ORACLES, list(sql_twins.QUERIES))

    from .operators import (
        asof,
        dedup,
        fuzzy,
        graph,
        layout,
        merge,
        multimodal,
        profile,
        retrieval,
        scd,
        similarity,
        text,
        timeseries,
        training,
    )

    for mod in (dedup, similarity, text, multimodal, profile, retrieval, asof, timeseries, merge, scd, fuzzy, training, graph, layout):
        _register(
            mod.QUERIES,
            mod.ORACLES,
            getattr(mod, "BENCH", list(mod.QUERIES)),
            getattr(mod, "BOUND_ORACLES", None),
        )

    from .sources import raw, spatial, xlsx, xml_feed

    for mod in (raw, spatial, xlsx, xml_feed):
        _register(mod.QUERIES, mod.ORACLES, getattr(mod, "BENCH", list(mod.QUERIES)))

    from .streaming import jobs as streaming_jobs
    from .functions import skew

    _register(skew.QUERIES, skew.ORACLES, skew.BENCH)

    from .streaming import stateful as streaming_stateful

    _register(streaming_jobs.QUERIES, streaming_jobs.ORACLES, streaming_jobs.BENCH)
    _register(
        streaming_stateful.QUERIES, streaming_stateful.ORACLES, ["q_session_window"]
    )


_load_all()

# no silent caps: every registered query gets a bench number (curated
# module BENCH entries keep their order at the head; the remainder
# appends in registration order).
BENCH_QUERIES[:] = list(dict.fromkeys([*BENCH_QUERIES, *QUERIES]))


#: Slots the external hash check of ``queries()`` pins each round.
HEAD_SIZE = 50

_REPO = Path(__file__).resolve().parent.parent


def _correctness_artifacts(repo: Path) -> list[tuple[int, Path]]:
    """(round, path) of every CORRECTNESS_r{N}.json in ``repo``, oldest
    first. A stray name that matches the glob but not the round pattern
    (CORRECTNESS_rerun.json) is skipped, not a crash at import."""
    numbered = [
        (int(m.group(1)), p)
        for p in repo.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    return sorted(numbered)


def _read_artifact(path: Path) -> dict:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return {}


def last_green_rounds(repo: Path) -> dict[str, int]:
    """query -> round of its most recent green row in ``repo``'s
    CORRECTNESS artifacts."""
    last: dict[str, int] = {}
    for rnd, path in _correctness_artifacts(repo):
        for name, row in _read_artifact(path).items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
                and not row.get("err")
            ):
                last[name] = rnd
    return last


def ordering(repo: Path) -> list[str]:
    """Hash-oracled queries by staleness: never driver-checked first,
    then by the round of their last green row, oldest first; ties keep
    registry order. Bound-oracled queries are left out: the driver's
    hash compare cannot check them."""
    last = last_green_rounds(repo)
    hash_oracled = [q for q in QUERIES if q in ORACLES]
    never = [q for q in hash_oracled if q not in last]
    return never + sorted((q for q in hash_oracled if q in last), key=last.__getitem__)


#: Registry HEAD: the first :data:`HEAD_SIZE` names of :func:`ordering`
#: over the committed artifacts, moved to the front of ``QUERIES`` so
#: the driver's pinned slots go to the stalest queries.
REGISTRY_HEAD: tuple[str, ...] = tuple(ordering(_REPO)[:HEAD_SIZE])
_reordered = {n: QUERIES[n] for n in REGISTRY_HEAD}
_reordered.update(QUERIES)
QUERIES.clear()
QUERIES.update(_reordered)


#: Fallback driver-pinned set (as observed in CORRECTNESS_r04.json).
#: Documentation only — the authoritative set is derived at import time
#: from the latest CORRECTNESS_r{N}.json artifact (the driver re-picks
#: its ~50-query subset each round), so a driver subset change produces
#: a doc refresh, not a red test suite. Everything outside the pinned
#: set is verified by the repo's own identical DuckDB differential gate
#: (tests/test_oracle_differential.py) — same oracle SQL, same compare.
_DRIVER_PINNED_R4: frozenset[str] = frozenset({
    "p_dim_time", "p_fact_build", "p_incremental_append", "p_weather_align",
    "p_weather_ids", "q_ann_brute_arrow", "q_ann_brute_topk",
    "q_bucket_by_location", "q_case_bucket_count", "q_cohort_retention",
    "q_count_distinct", "q_cube", "q_dedup_clusters", "q_dedup_embedding",
    "q_dedup_embedding_clusters", "q_dedup_exact", "q_dedup_incremental",
    "q_dedup_incremental_lsh", "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard",
    "q_dedup_segments", "q_dedup_simhash", "q_dedup_simhash_pairs",
    "q_filter_hour_topk", "q_full_outer", "q_funnel", "q_group_by_hour",
    "q_grouping_sets", "q_join_cte_inner", "q_json_props", "q_k_anonymity",
    "q_local_supplier_volume", "q_moving_avg", "q_ntile_window", "q_pivot",
    "q_pricing_summary", "q_quantiles", "q_rank_lag", "q_rollup",
    "q_running_total", "q_scalar_subquery", "q_semi_anti", "q_set_ops",
    "q_shipping_priority", "q_sql_view_topk", "q_star_view",
    "q_time_to_convert", "q_topk_count", "q_topk_join_count", "q_unpivot",
})


def _driver_pinned_from_artifacts() -> tuple[frozenset[str], str | None]:
    """(pinned set, artifact filename) from the newest
    CORRECTNESS_r{N}.json, or (r4 fallback, None) without artifacts."""
    for _, art in reversed(_correctness_artifacts(_REPO)):
        names = frozenset(_read_artifact(art))
        if names:
            return names, art.name
    return _DRIVER_PINNED_R4, None


DRIVER_PINNED, DRIVER_PINNED_SOURCE = _driver_pinned_from_artifacts()
