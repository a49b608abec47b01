"""Central registry of declared queries and their DuckDB oracles.

``__spark_entry__.py`` (the driver contract) and ``bench.py`` both read
from here. Each entry: name → callable(spark, sf_dir) -> DataFrame, and
(where SQL-expressible) name → ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

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
    before the query declares its plan."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
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


#: Registry HEAD — the external hash check of ``queries()`` pins its
#: FIRST ~50 entries each round: never-checked hash-oracled queries
#: first, then every remaining query ordered by the round of its most
#: recent green CORRECTNESS row, oldest first (ties keep registry
#: order). This tuple is the verbatim output of ``python
#: tools/gen_head.py`` over the committed CORRECTNESS_r*.json artifacts;
#: tests/test_registry_contract.py asserts the match, so a stale paste
#: fails CI. Every name here carries a full hash oracle (bound-oracled
#: sketches are excluded by construction).
REGISTRY_HEAD: tuple[str, ...] = (
    # 1) last green r10: the training/curation, graph and layout tail
    "q_training_examples", "q_curation_pipeline", "q_source_caps",
    "q_budget_select", "q_adaptive_filter", "q_graph_degrees",
    "q_graph_triangles", "q_zorder_layout",
    # 2) last green r11: analyst, retrieval, text, multimodal, sources,
    #    sketch and skew queries, in registration order
    "q_topk_count", "q_topk_join_count", "q_filter_hour_topk",
    "q_group_by_hour", "q_moving_avg", "q_case_bucket_count",
    "q_bucket_by_location", "q_join_cte_inner", "q_star_view",
    "q_quantiles_scaleout", "q_dedup_hyperplane_lsh", "q_knn_classify_ivf",
    "q_embed_pca_project", "q_token_count", "q_pii_scrub",
    "q_text_bigram_quality", "q_text_repetition", "q_text_chunks",
    "q_corpus_report", "q_text_boilerplate", "q_textrank_keywords",
    "q_bpe_merges", "q_vocab_growth", "q_ahash_bucket_profile",
    "q_image_stats", "q_audio_stats", "q_image_resize", "q_audio_resample",
    "q_media_decode_quarantine", "q_cms_join_estimate", "q_sessionize",
    "q_split_leakproof", "q_mixture_temperature", "q_csv_roundtrip",
    "q_orc_roundtrip", "q_json_roundtrip", "q_spatial_nearest",
    "q_netcdf_weather", "q_xlsx_roundtrip", "q_xml_stations",
    "q_skew_salted_join", "q_stream_tumbling_warehouse",
)


def _rotate_head() -> None:
    missing = [n for n in REGISTRY_HEAD if n not in QUERIES]
    assert not missing, f"REGISTRY_HEAD names not registered: {missing}"
    unoracled = [n for n in REGISTRY_HEAD if n not in ORACLES]
    assert not unoracled, f"REGISTRY_HEAD names without hash oracles: {unoracled}"
    head = set(REGISTRY_HEAD)
    reordered = {n: QUERIES[n] for n in REGISTRY_HEAD}
    reordered.update({n: fn for n, fn in QUERIES.items() if n not in head})
    QUERIES.clear()
    QUERIES.update(reordered)


_rotate_head()


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
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    # fullmatch-filter before sorting: a stray CORRECTNESS_rerun.json
    # would match the glob but not the round pattern, and must not
    # crash package import.
    numbered = [
        (int(m.group(1)), p)
        for p in repo.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    arts = [p for _, p in sorted(numbered)]
    for art in reversed(arts):
        try:
            names = frozenset(json.loads(art.read_text()))
        except (OSError, ValueError):
            continue
        if names:
            return names, art.name
    return _DRIVER_PINNED_R4, None


DRIVER_PINNED, DRIVER_PINNED_SOURCE = _driver_pinned_from_artifacts()
