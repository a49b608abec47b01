"""Physical-plan assertions — the scale posture, checked as regressions.

Correctness is the oracle differential's job; these tests pin the
*plan shapes* that make the same code viable at 100 TB: filters pushed
into the parquet scan, scans pruned to referenced columns, fixed-size
dims broadcast, aggregates partial+final, and no row-at-a-time Python
in any parity query.
"""

import pytest
from pyspark.sql import functions as F

from tfl_bikes_data_pipeline_spark.plans import queries
from tfl_bikes_data_pipeline_spark.tables import load_table


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= "1996-01-01"
    ).select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_scan(spark, sf_dir):
    plan = plan_of(queries.q_topk_count(spark, sf_dir))
    # the grouped top-k over lineitem must read exactly one column
    scan = [s for s in plan.split("(1) Scan parquet")[1:]][0]
    read_schema = [l for l in scan.splitlines() if "ReadSchema" in l][0]
    assert "l_suppkey" in read_schema
    for unneeded in ("l_quantity", "l_extendedprice", "l_shipdate"):
        assert unneeded not in read_schema, f"scan reads unneeded column {unneeded}"


def test_fixed_dims_broadcast_in_star_view(spark, sf_dir):
    plan = plan_of(queries.q_star_view(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "nation joins should be broadcast"


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = plan_of(queries.q_topk_count(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT must not plan a global sort"
    )


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = plan_of(queries.q_group_by_hour(spark, sf_dir))
    assert "partial_count" in plan, "map-side combine missing from group-count"


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # AQE reports codegen only on the executed (final) plan
    df = queries.q_case_bucket_count(spark, sf_dir)
    df.collect()  # .write clones the plan; collect finalizes THIS one
    executed = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # '*'-prefixed nodes are inside a WholeStageCodegen span
    assert "isFinalPlan=true" in executed
    assert "* HashAggregate" in executed, "aggregate fell out of codegen"
    assert "* Project" in executed, "CASE projection fell out of codegen"


def test_partition_pruning_on_warehouse_read(spark, sf_dir, tmp_path):
    """S3 partition-path selection: a month-filtered read of the
    partitioned warehouse must prune at the directory level (partition
    filter, not a data filter over all files)."""
    from tfl_bikes_data_pipeline_spark.warehouse import (
        month_partition,
        write_partitioned,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "ym", month_partition("ts")
    )
    out = str(tmp_path / "wh")
    write_partitioned(events, out, ["ym"], mode="overwrite")
    months = [r["ym"] for r in spark.read.parquet(out).select("ym").distinct().collect()]
    df = spark.read.parquet(out).where(F.col("ym") == months[0])
    plan = plan_of(df)
    pf_line = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ym" in pf_line, f"month filter not applied at partition level: {pf_line}"


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join: two tables bucketed identically on the join key
    must sort-merge with ZERO Exchange (the shuffle was paid at write
    time) — the repeated-join layout for 100 TB fact⨝fact work."""
    import uuid

    from tfl_bikes_data_pipeline_spark.warehouse import write_bucketed

    sfx = uuid.uuid4().hex[:6]
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(lineitem, f"li_b_{sfx}", "l_orderkey", 8, str(tmp_path / "li"))
    write_bucketed(orders, f"o_b_{sfx}", "l_orderkey", 8, str(tmp_path / "o"))
    # at fixture size AQE would broadcast either side, hiding the
    # property under test; disable broadcast to surface the SMJ layout
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"li_b_{sfx}").join(
            spark.table(f"o_b_{sfx}"), "l_orderkey"
        )
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in executed
        assert "Exchange" not in executed, "bucketed join still shuffles"
        # sanity: same result as the unbucketed join
        assert joined.count() == lineitem.join(orders, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE li_b_{sfx}")
        spark.sql(f"DROP TABLE o_b_{sfx}")


PARITY_QUERIES = [
    "q_topk_count",
    "q_topk_join_count",
    "q_filter_hour_topk",
    "q_group_by_hour",
    "q_moving_avg",
    "q_case_bucket_count",
    "q_bucket_by_location",
    "q_join_cte_inner",
    "q_star_view",
    "q_pricing_summary",
    "p_dim_time",
    "p_fact_build",
    "p_weather_align",
    "p_weather_ids",
    "q_spatial_nearest",
    "q_session_window",
    "q_sql_view_topk",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_no_python_in_parity_hot_path(spark, sf_dir, name):
    """The reference's surface is UDF-free in our engine too — every
    parity plan stays JVM-side (no BatchEvalPython / ArrowEvalPython /
    MapInPandas nodes)."""
    from tfl_bikes_data_pipeline_spark import registry

    plan = plan_of(registry.QUERIES[name](spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name}: Python in the hot path ({marker})"


def test_scd2_single_exchange(spark, sf_dir):
    """The SCD-2 gaps-and-islands build keys every window and the
    collapse aggregate on user_id — Catalyst must reuse ONE hash
    Exchange for all four operators, not shuffle per step."""
    from tfl_bikes_data_pipeline_spark.operators.scd import q_scd2_history

    import re

    plan = plan_of(q_scd2_history(spark, sf_dir))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, f"SCD2 build shuffles {n_exchange}× (want 1)"


def test_funnel_single_scan_single_exchange(spark, sf_dir):
    """The staged conversion funnel chains its three conditional-min
    windows over the SAME user_id partitioning: events must be scanned
    once and hash-shuffled once (the naive staged-join plan reads the
    fact 3× and shuffles per stage)."""
    import re

    df = queries.q_funnel(spark, sf_dir)
    # simple-mode plan string: one line per operator (formatted mode
    # repeats each operator in the details section).
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"FileScan parquet", plan))
    n_hash_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_scans == 1, f"funnel scans events {n_scans}× (want 1)"
    assert n_hash_exchange == 1, f"funnel hash-shuffles {n_hash_exchange}× (want 1)"


def test_merge_upsert_single_shuffle_per_side(spark, sf_dir):
    """MERGE is one full-outer key join: at most one hash Exchange per
    input side, nothing downstream of the join."""
    from tfl_bikes_data_pipeline_spark.operators.merge import q_merge_upsert

    import re

    plan = plan_of(q_merge_upsert(spark, sf_dir))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 2, f"merge shuffles {n_exchange}× (want ≤2)"


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """At warehouse scale a selective dim filter should semi-prune the
    fact scan before the shuffle: Spark's runtime bloom filter injects
    a might_contain() predicate on the probe side, built from the
    filtered build side. Thresholds are lowered to surface the rewrite
    at fixture size; the assertion is the injection itself."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 400000
        ).select("o_orderkey")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = plan_of(j)
        assert "might_contain" in plan, "no runtime bloom filter on probe side"
        assert "bloom_filter_agg" in plan, "no bloom filter built from dim side"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_embedding_dedup_has_no_unbounded_cartesian(spark, sf_dir):
    """The declared embedding near-dup must never plan an n² cartesian
    over the corpus: the only nested-loop allowed is against the
    broadcast (fixed-size) centroid relation, and candidate pairing
    must be a hash join on the bucket key."""
    from tfl_bikes_data_pipeline_spark import registry

    plan = plan_of(registry.QUERIES["q_dedup_embedding"](spark, sf_dir))
    assert "CartesianProduct" not in plan, "corpus×corpus cartesian in dedup plan"
    assert "BroadcastNestedLoopJoin" in plan, (
        "centroid scoring should be a broadcast nested loop"
    )


def test_embedding_dedup_uses_three_level_assignment(spark, sf_dir):
    """The DECLARED plan must route the corpus through the balanced
    coarse→mid→fine quantizer — never all k fine centroids (flat is
    O(n·k) = O(n²/50) at the corpus-scaled k, VERDICT r4 item 3) and
    never the two-level √k coarse relation alone (O(n·√k) re-acquires
    √n growth once k = n/50, the r8 verdict's steepest corpus grower).
    Pinned via the filter literals: the coarse (vec_id < c), mid
    (vec_id < c²) and fine (vec_id < k) bounds must all gate centroid
    relations in the plan."""
    import re

    from tfl_bikes_data_pipeline_spark import registry
    from tfl_bikes_data_pipeline_spark.operators.dedup import (
        _icbrt_ceil,
        embed_block_num_centroids,
    )
    from tfl_bikes_data_pipeline_spark.tables import table_row_count

    k = embed_block_num_centroids(table_row_count(sf_dir, "embeddings"))
    c = _icbrt_ceil(k)
    k_m = min(c * c, k)
    assert c < k_m < k, "fixture too small to distinguish the three levels"
    plan = plan_of(registry.QUERIES["q_dedup_embedding"](spark, sf_dir))
    # the fine bound pushes to the scan (vec_id); the coarse/mid bounds
    # sit above the centroid limit boundary (centroid_id alias)
    assert re.search(rf"(vec_id|centroid_id)#\d+L? < {c}\b", plan), (
        f"no coarse-bound filter (< {c}) — flat assignment is back"
    )
    assert re.search(rf"(vec_id|centroid_id)#\d+L? < {k_m}\b", plan), (
        f"no mid-bound filter (< {k_m}) — two-level is back"
    )
    assert re.search(rf"vec_id#\d+L? < {k}\b", plan), (
        f"no fine-bound filter (vec_id < {k}) in the plan"
    )


def test_ngram_dedup_caps_posting_lists(spark, sf_dir):
    """The n-gram jaccard candidate index must be df-capped: the plan
    filters shingles at document frequency ≤ NGRAM_MAX_DF BEFORE the
    pair self-join (bounded posting lists — the property that keeps
    candidate generation linear at 100 TB), and pairs join hash-wise
    on the shingle key, never as a cartesian."""
    import re

    from tfl_bikes_data_pipeline_spark import registry
    from tfl_bikes_data_pipeline_spark.operators.dedup import NGRAM_MAX_DF

    plan = plan_of(registry.QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir))
    # the df-cap filter (2 <= df <= NGRAM_MAX_DF) must gate the posting
    # stream BEFORE the pair self-join: bounded posting lists are what
    # keep candidate generation linear.
    assert re.search(rf"df#\d+L? <= {NGRAM_MAX_DF}\b", plan), (
        "no document-frequency cap filter in the candidate index"
    )
    assert re.search(r"df#\d+L? >= 2\b", plan), (
        "df=1 postings must be dropped before the pair self-join"
    )
    assert "CartesianProduct" not in plan
    # the upper-bound prune must run on integer pair counts before any
    # array-bearing join: the plan contains the least(ha, hb) bound.
    assert re.search(r"least\(ha#\d+L?, hb#\d+L?\)", plan), (
        "jaccard upper-bound prune missing from the pair pipeline"
    )


def test_embedding_dedup_plan_builds_without_jobs(spark, sf_dir):
    """Constructing the declared embedding-dedup plan must not launch a
    count() scan: the centroid count comes from parquet footer metadata
    (VERDICT r3 item 5 — one job, not two). The only job tolerated is
    spark.read.parquet's own 0-row schema-inference/listing job, which
    every scan definition pays; the pre-fix plan launched that PLUS a
    full count()."""
    sc = spark.sparkContext
    from tfl_bikes_data_pipeline_spark import registry

    sc.setJobGroup("embed_plan_build", "plan construction must be count-free")
    try:
        registry.QUERIES["q_dedup_embedding"](spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("embed_plan_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 1, (
        f"plan construction launched {len(jobs)} jobs {jobs}; "
        "a count() action is back in the construction path"
    )


def _exchange_count(plan: str) -> int:
    """Count Exchange nodes the way this file's conventions do —
    formatted explain puts the node name on its own numbered line
    (arguments, including the partitioning, print separately), so the
    only reliable probe is the numbered-node pattern."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination must probe the benchmark shingle set as a
    broadcast hash join with the corpus side UNSHUFFLED before the
    probe (the property that makes it viable at 100 TB). Exchange
    budget: bench-side distinct (1 — Catalyst collapses the double
    distinct) + contaminated-doc agg (1) + presentation sort (1) = 3;
    a corpus-wide shingle distinct adds exactly one more Exchange and
    busts the budget (measured: the pre-fix plan counted 4)."""
    from tfl_bikes_data_pipeline_spark import registry

    plan = plan_of(registry.QUERIES["q_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "benchmark shingles not broadcast"
    n = _exchange_count(plan)
    assert n <= 3, f"decontaminate shuffles {n}× (budget 3)"


def test_chunking_is_narrow(spark, sf_dir):
    """Chunking must stay a pure scan-side projection: the ONLY
    Exchange allowed is the presentation sort's range partitioning."""
    from tfl_bikes_data_pipeline_spark import registry

    plan = plan_of(registry.QUERIES["q_text_chunks"](spark, sf_dir))
    n = _exchange_count(plan)
    assert n <= 1, f"chunking plan shuffles {n}× (budget 1: the sort)"


def test_quantize_is_narrow(spark, sf_dir):
    """Int8 quantization audit: per-vector transform only — the ONLY
    Exchange allowed is the presentation sort's range partitioning."""
    from tfl_bikes_data_pipeline_spark import registry

    plan = plan_of(registry.QUERIES["q_embed_quantize"](spark, sf_dir))
    n = _exchange_count(plan)
    assert n <= 1, f"quantization plan shuffles {n}× (budget 1: the sort)"


def test_training_and_maintenance_plan_shapes(spark, sf_dir):
    """Shuffle budgets for the newest operator families, pinned the
    same way as SCD2/merge: plans may get cheaper, never chattier."""
    import re

    from tfl_bikes_data_pipeline_spark import registry

    budgets = {
        # shard window + final groupBy reuse one hash partitioning;
        # + 1 range exchange for the presentation sort
        "q_pack_sequences": 2,
        # base agg + delta agg + merged agg + sort: union-aware Catalyst
        # plans one hash exchange per input branch + final agg + sort
        "q_incremental_agg": 4,
        # window + presentation sort
        "q_latest_snapshot": 2,
        # profile agg + candidate agg/limit + pair agg + top-k
        "q_ts_similarity": 5,
    }
    for name, budget in budgets.items():
        plan = plan_of(registry.QUERIES[name](spark, sf_dir))
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n <= budget, f"{name}: {n} exchanges (budget {budget})"


def test_two_level_assign_broadcasts_all_centroid_relations(spark, sf_dir):
    """The hierarchical coarse→fine assignment must keep every
    centroid-side relation broadcast (coarse cells, fine→coarse map,
    fine centroids) and never plan a corpus×corpus cartesian — the
    property that makes it the O(n·√k) scale path."""
    from tfl_bikes_data_pipeline_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        embed_block_num_centroids,
        embedding_cosine_pairs_blocked,
    )
    from tfl_bikes_data_pipeline_spark.tables import load_table, table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    k = embed_block_num_centroids(table_row_count(sf_dir, "embeddings"))
    df = embedding_cosine_pairs_blocked(
        emb, COSINE_DUP_THRESHOLD, num_centroids=k, assign_mode="two_level"
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, "corpus-scale cartesian in two-level plan"
    # nested-loop joins are allowed ONLY against broadcast relations
    assert "BroadcastNestedLoopJoin" in plan
    import re

    assert not re.search(r"(?<!Broadcast)NestedLoopJoin", plan.replace("BroadcastNestedLoopJoin", "BNLJ"))


def test_three_level_assign_broadcasts_all_centroid_relations(spark, sf_dir):
    """The balanced coarse→mid→fine assignment must keep every
    centroid-side relation broadcast (coarse cells, mid cells, the
    mid→coarse and fine→mid maps, fine centroids) and never plan a
    corpus×corpus cartesian — the property that makes it the
    O(n·k^(1/3)) scale path."""
    import re

    from tfl_bikes_data_pipeline_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        embed_block_num_centroids,
        embedding_cosine_pairs_blocked,
    )
    from tfl_bikes_data_pipeline_spark.tables import load_table, table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    k = embed_block_num_centroids(table_row_count(sf_dir, "embeddings"))
    df = embedding_cosine_pairs_blocked(
        emb, COSINE_DUP_THRESHOLD, num_centroids=k, assign_mode="three_level"
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, "corpus-scale cartesian in three-level plan"
    assert "BroadcastNestedLoopJoin" in plan
    assert not re.search(r"(?<!Broadcast)NestedLoopJoin", plan.replace("BroadcastNestedLoopJoin", "BNLJ"))


def test_shingle_explode_has_no_inferred_generate_filter(spark, sf_dir):
    """InferFiltersFromGenerate must stay excluded: it rewrites
    explode(f(x)) into Filter(size(f(x)) > 0 ...) + Generate, pushing a
    filter that RE-EVALUATES the full tokenize→shingle pipeline twice
    per row below the parallelizing exchange (measured 4-5× on every
    shingle-exploding query at sf0.1). The optimized plan must contain
    exactly one evaluation site of the shingle transform: the Generate
    input's projection — never a Filter over the transform."""
    from tfl_bikes_data_pipeline_spark import registry

    df = registry.QUERIES["q_text_boilerplate"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the inferred filter's fingerprint is a Filter node whose condition
    # contains the generator expression (transform over the word split)
    for line in optimized.splitlines():
        if line.strip().startswith("Filter") and "transform(" in line:
            raise AssertionError(
                "inferred Generate filter re-evaluating the shingle "
                f"transform is back in the plan:\n{line.strip()[:200]}"
            )


def test_tpch_waiting_suppliers_exists_as_semi_anti(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS must stay LEFT SEMI / LEFT ANTI joins on
    the orderkey — a rewrite through DISTINCT-join or IN-subquery would
    widen the fact side; all three li readers must join on l_orderkey."""
    from tfl_bikes_data_pipeline_spark.plans.tpch_suite import q_waiting_suppliers

    plan = plan_of(q_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan, "EXISTS must plan as a left-semi join"
    assert "LeftAnti" in plan, "NOT EXISTS must plan as a left-anti join"


def test_tpch_top_supplier_max_is_broadcast_scalar(spark, sf_dir):
    """Q15's global-max threshold must attach as a broadcast of the
    one-row aggregate (equality join or nested-loop), never a shuffled
    join or a CartesianProduct of the supplier-revenue relation."""
    from tfl_bikes_data_pipeline_spark.plans.tpch_suite import q_top_supplier

    plan = plan_of(q_top_supplier(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_tpch_forecast_revenue_pushes_all_predicates(spark, sf_dir):
    """Q6 is the pushdown probe: every filter (dates, discount band,
    quantity) must reach the parquet scan as a pushed filter."""
    from tfl_bikes_data_pipeline_spark.plans.tpch_suite import q_forecast_revenue

    plan = plan_of(q_forecast_revenue(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to scan: {pushed}"


def test_weather_align_single_scan_single_exchange(spark, sf_dir):
    """The three per-type daily sums share one grouping key, so the
    aligned dimension is one conditional aggregate: events scanned once
    and hash-shuffled once (the three-aggregate left-join form reads
    the fact 3× and shuffles per side)."""
    import re

    from tfl_bikes_data_pipeline_spark.plans.pipelines import p_weather_align

    plan = p_weather_align(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"FileScan parquet", plan))
    n_hash_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_scans == 1, f"weather alignment scans events {n_scans}× (want 1)"
    assert n_hash_exchange == 1, (
        f"weather alignment hash-shuffles {n_hash_exchange}× (want 1)"
    )


def test_weather_ids_has_no_event_id_shuffle(spark, sf_dir):
    """Start and end ids are chained left joins onto the fact; no
    re-merge of two enriched copies on event_id. Broadcast is off so the
    plan takes its at-scale (shuffled) shape."""
    import re

    from tfl_bikes_data_pipeline_spark.plans.pipelines import p_weather_ids

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = p_weather_ids(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in plan  # the at-scale shape was planned
    assert not re.search(r"Exchange hashpartitioning\(event_id#", plan), (
        "weather ids re-shuffle the fact on event_id"
    )


def test_incremental_append_build_runs_only_its_writes(spark, sf_dir):
    """Building p_incremental_append launches exactly the two warehouse
    writes (load, re-run of the latest month): no pre-write scan and no
    schema-inference job on the read-back."""
    from tfl_bikes_data_pipeline_spark.plans.pipelines import p_incremental_append

    load_table(spark, sf_dir, "events")  # schema catalog warm before the count
    sc = spark.sparkContext
    sc.setJobGroup("append_build", "incremental append plan construction")
    try:
        p_incremental_append(spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("append_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 2, f"append build launched {len(jobs)} jobs {jobs} (want 2)"
