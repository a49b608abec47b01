"""The analyst query surface (SURVEY.md §2.13, parity group).

Each query re-expresses one of the reference's analytical queries
(``sql/aggregations.sql``, ``sql/make_view.sql``) over the synthetic
star-schema tables. Every builder has a matching ANSI-SQL oracle string
(``ORACLES``) that DuckDB runs on the same parquet files; the driver
compares row-count + schema + order-insensitive value-hash.

Determinism rules used throughout (and required for the hash compare):
- every computed column is aliased identically in Spark and SQL;
- top-k queries carry an explicit ORDER BY with a unique tie-break key;
- double SUM/AVG go through exact DECIMAL(18,6) sums (order-independent
  addition → identical bits regardless of partitioning — see
  ``functions.exact_sum``).

Scale notes are attached per query: joins against small dimensions are
explicitly broadcast (at 100 TB the fact side never shuffles for these);
aggregations rely on Spark's partial (map-side) aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import day_number, exact_sum, synth_key
from ..tables import ensure_scan_parallelism, load_table


# ---------------------------------------------------------------------------
# q_topk_count — top-10 group-count (reference sql/aggregations.sql:2-5,
# "number of rentals per bike").  groupBy → partial+final hash agg →
# TakeOrderedAndProject (no global sort at scale).
# ---------------------------------------------------------------------------

def q_topk_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_suppkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_topk_join_count — fact ⟕ broadcast dim + date-range filter + top-k
# (reference sql/aggregations.sql:8-14, "most popular destination 2021").
# The year filter is pushed into the parquet scan; `part` is broadcast so
# the fact side never shuffles.
# ---------------------------------------------------------------------------

def q_topk_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        # no broadcast hint: part grows with SF (policy per
        # q_local_supplier_volume / the round-8 dq_audit incident) — AQE
        # still picks BHJ at small SF
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("p_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_filter_hour_topk — equality predicate on hour + join + top-k
# (reference sql/aggregations.sql:17-26, "popular destinations 3-4AM").
# ---------------------------------------------------------------------------

def q_filter_hour_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return (
        events.where(F.hour("ts") == 3)
        # customer grows with SF — no forced broadcast (AQE decides)
        .join(customer, F.col("user_id") == F.col("c_custkey"), "left")
        .groupBy("c_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("c_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_group_by_hour — journeys per hour-of-day, ordered
# (reference sql/aggregations.sql:28-34).
# ---------------------------------------------------------------------------

def q_group_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.hour("ts").cast("int").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# q_moving_avg — 7-day trailing average, RANGE frame over a day number
# (reference sql/aggregations.sql:36-42: AVG ... OVER (ORDER BY
# UNIX_DATE(DATE(ts)) RANGE BETWEEN 7 PRECEDING AND CURRENT ROW);
# generalized with PARTITION BY user, as the reference's per-location
# window would need at scale). Daily pre-aggregation happens first, so
# the window state per partition is bounded by days, not events.
# ---------------------------------------------------------------------------

def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", day_number("ts").alias("day_num")
    ).agg(exact_sum("value", "daily_value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_num")
        .rangeBetween(-7, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day_num",
        (
            F.sum(F.col("daily_value").cast("decimal(18,6)")).over(w).cast("string").cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_7d"),
    )


# ---------------------------------------------------------------------------
# q_case_bucket_count — CASE bucketing + 2-key group-count (reference CTE
# `categorical_weather_2021`, sql/aggregations.sql:44-66).
# ---------------------------------------------------------------------------

def price_band() -> "F.Column":
    return (
        F.when(F.col("o_totalprice") >= 300000, F.lit("high"))
        .when(F.col("o_totalprice") >= 150000, F.lit("mid"))
        .otherwise(F.lit("low"))
    )


PRICE_BAND_SQL = (
    "CASE WHEN o_totalprice >= 300000 THEN 'high' "
    "WHEN o_totalprice >= 150000 THEN 'mid' ELSE 'low' END"
)


def q_case_bucket_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(price_band().alias("price_band"), "o_orderstatus")
        .groupBy("price_band", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("price_band", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q_bucket_by_location — 2-key group-count over a bucketed attribute
# (reference sql/aggregations.sql:68-71: GROUP BY location_id, is_warm).
# ---------------------------------------------------------------------------

def bal_band() -> "F.Column":
    return (
        F.when(F.col("c_acctbal") >= 7500, F.lit("high"))
        .when(F.col("c_acctbal") >= 2500, F.lit("mid"))
        .otherwise(F.lit("low"))
    )


BAL_BAND_SQL = (
    "CASE WHEN c_acctbal >= 7500 THEN 'high' "
    "WHEN c_acctbal >= 2500 THEN 'mid' ELSE 'low' END"
)


def q_bucket_by_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select(F.col("c_nationkey").cast("int").alias("c_nationkey"), bal_band().alias("bal_band"))
        .groupBy("c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("c_nationkey", "bal_band")
    )


# ---------------------------------------------------------------------------
# q_join_cte_inner — fact ⨝ derived-attribute CTE
# (reference sql/aggregations.sql:73-79). Exercises the SQL API end to
# end, like the reference's analyst surface; the CTE dimension is small →
# Catalyst broadcasts it.
# ---------------------------------------------------------------------------

def q_join_cte_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        f"""
        WITH bucketed_customer AS (
            SELECT c_custkey, {BAL_BAND_SQL} AS bal_band FROM customer
        )
        SELECT bal_band, CAST(count(1) AS BIGINT) AS cnt
        FROM orders INNER JOIN bucketed_customer ON o_custkey = c_custkey
        GROUP BY bal_band
        ORDER BY bal_band
        """
    )


# ---------------------------------------------------------------------------
# q_star_view — the denormalizing star-join view with role-playing dims
# (reference sql/make_view.sql:3-32: fact ⟕ locations ×2 ⟕ weather ×2,
# concat'd key columns). Here: lineitem ⟕ supplier ⟕ part ⟕ orders ⟕
# customer, with `nation` joined twice (customer-side and supplier-side
# role-playing). Broadcast policy by how the table scales: nation is
# fixed-cardinality (25 rows) → always broadcast-hinted; supplier /
# part / orders / customer grow with SF, so at 100 TB they are NOT
# broadcast-safe — no hint, AQE picks broadcast vs shuffle from runtime
# sizes (locally they all broadcast anyway; on a cluster the big ones
# degrade gracefully to sort-merge instead of OOMing the driver).
# ---------------------------------------------------------------------------

def q_star_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    c_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("c_nation_name")
    )
    s_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nation_name")
    )
    return (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(orders.select("o_orderkey", "o_custkey", "o_orderstatus"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(F.broadcast(c_nation), F.col("c_nationkey") == F.col("cn_key"), "left")
        .join(F.broadcast(s_nation), F.col("s_nationkey") == F.col("sn_key"), "left")
        .select(
            synth_key("l_orderkey", "l_linenumber").alias("line_key"),
            "l_quantity",
            "s_name",
            "p_name",
            "o_orderstatus",
            "c_name",
            "c_mktsegment",
            "c_nation_name",
            "s_nation_name",
        )
    )


# ---------------------------------------------------------------------------
# q_pricing_summary — grouped multi-aggregate scan (TPC-H Q1 shape; the
# reference's grouped aggregations generalized). Money sums via exact
# decimal; averages as exact-sum / count.
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(disc_price, "sum_disc_price"),
            # deliberately count(1), not functions.exact_avg's
            # count(col): the TPC-H pricing summary divides by the ROW
            # count of the group (l_quantity is non-null here, but the
            # oracle's count(1) is the semantics being mirrored).
            (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("string").cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# q_json_props — semi-structured extraction from the event feed's JSON
# column (beyond-reference: modern feeds carry JSON payloads; stays
# JVM-side via get_json_object, no Python).
# ---------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_rollup — hierarchical subtotals (beyond-reference: the warehouse
# query surface a dashboard needs; Spark plans one Expand + one
# aggregate, not N passes). NULL grouping markers are replaced with a
# sentinel so the hash compare is engine-stable.
# ---------------------------------------------------------------------------

def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
            "cnt",
            "sum_price",
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q_count_distinct — exact distinct counting (survey gap "not present:
# distinct/approx-distinct"; the approx variant is approx_count_distinct,
# not oracle-comparable by construction).
# ---------------------------------------------------------------------------

def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_semi_anti — existence filtering both ways: customers with orders
# (LEFT SEMI) and without (LEFT ANTI), as one union-tagged relation.
# Semi/anti never duplicate or widen the left side — the scalable
# existence check (no DISTINCT after a join).
# ---------------------------------------------------------------------------

def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    order_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    with_orders = customer.join(order_keys, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("with_orders").alias("segment")
    )
    without = customer.join(order_keys, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("segment")
    )
    return with_orders.unionByName(without).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q_quantiles — exact grouped percentiles (survey §2.5 extension).
# ---------------------------------------------------------------------------

def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (sort-based `percentile`, not the
    sketch-based approx variant — approx is offered too but is not
    oracle-comparable by construction). Rounded to 6 dp: Spark and
    DuckDB use algebraically equal but differently-ordered interpolation
    arithmetic."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .orderBy("event_type")
    )


def q_quantiles_scaleout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped DISCRETE quantiles via the distributed-rank recipe
    — the 100 TB path for the operator [[q_quantiles]] declares:
    Spark's exact ``percentile`` aggregate buffers every group value in
    one task's memory (the profile module documents it as the
    bottleneck the GK sketch [[q_approx_quantiles]] works around),
    while this plan computes the same order statistic scale-out —
    ``functions/ranks.py``'s ONE range exchange + offset metadata pass,
    then each p-quantile is the row whose exact global rank equals
    ceil(p·N) (type-1/discrete definition: an actual data value, no
    interpolation arithmetic to diverge between engines; N counts
    non-null values, matching aggregate null semantics). ceil(p·N) is
    a single correctly-rounded double multiply on both engines —
    deterministic, unlike summed-float thresholds (review r11,
    q_mixture_temperature postmortem)."""
    from ..functions.ranks import _totals_expr, ranked_by_group

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        .where(F.col("value").isNotNull())
    )
    ranked, totals = ranked_by_group(
        events, "event_type", ["value", "event_id"]
    )
    n = _totals_expr("event_type", totals)

    def at(p: float) -> "F.Column":
        k = F.ceil(F.lit(p) * n).cast("long")
        return F.max(F.when(F.col("rn") == k, F.col("value")))

    return (
        ranked.groupBy("event_type")
        .agg(
            at(0.5).alias("p50_disc"),
            at(0.9).alias("p90_disc"),
            at(0.99).alias("p99_disc"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_rank_lag — ranking + offset window family (survey §2.6 notes the
# reference's "top four destinations" dashboards imply rank-style
# queries; lag/lead is the standard sessionless delta). Deterministic
# via the unique event_id tie-break in the window order.
# ---------------------------------------------------------------------------

def q_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.lag("event_id").over(w).alias("prev_event_id"),
            F.lead("event_id").over(w).alias("next_event_id"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("user_id", "rn")
    )


# ---------------------------------------------------------------------------
# q_set_ops — INTERSECT / EXCEPT (survey gap "not present: intersect,
# except"): nations that have customers vs suppliers, tagged and
# unioned into one relation.
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    both = customer.intersect(supplier).select(
        "nationkey", F.lit("both").alias("side")
    )
    # subtract = EXCEPT DISTINCT (exceptAll's bag semantics would leave
    # surplus copies of nations present on both sides)
    cust_only = customer.subtract(supplier).select(
        "nationkey", F.lit("customers_only").alias("side")
    )
    return both.unionByName(cust_only).orderBy("nationkey", "side")


# ---------------------------------------------------------------------------
# q_pivot — contingency-table pivot (the reference's is_warm ×
# is_raining grid, sql/aggregations.sql:63-66, as a wide table). Spark
# plans pivot as a single aggregate with one output column per pinned
# pivot value — values are pinned explicitly so the plan needs no
# discovery pass and the schema is stable.
# ---------------------------------------------------------------------------

#: the FULL event-type domain of the fixture feed — the constant other
#: modules (gap-fill resampling) import so no series silently drops.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: q_pivot deliberately pins a SUBSET (the reference's is_warm ×
#: is_raining grid is likewise a chosen 2×2, not the full domain) —
#: explicit pivot values keep the plan discovery-free and the output
#: schema stable.
PIVOT_TYPES = ("click", "purchase", "view")


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.hour("ts").cast("int").alias("hour"))
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(PIVOT_TYPES))
        .select(
            "hour",
            *[F.col(t).cast("long").alias(f"n_{t}") for t in PIVOT_TYPES],
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# q_unpivot — wide→long melt, the inverse of q_pivot (survey gap "not
# present: unpivot/melt"). Aggregate FIRST (4 exact sums per return
# flag), melt the 3-row wide result after — the unpivot touches a
# constant-size relation, so at 100 TB the only real work is the one
# partial+final aggregate over lineitem.
# ---------------------------------------------------------------------------

UNPIVOT_MEASURES = ("sum_qty", "sum_price", "sum_disc", "sum_tax")


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the 5 aggregate inputs, then widen conditionally: the
    # 4-decimal-sum partial aggregate is the whole query, and the
    # single-row-group fixture scan otherwise runs it on one core
    # (profiled r13: 3-task dominant stage, interleaved A/B 0.75).
    # At warehouse scale the scan has >= slots/2 splits and the widen
    # is a no-op — no shuffle baked into the production plan.
    lineitem = ensure_scan_parallelism(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        ),
        spark,
    )
    wide = lineitem.groupBy("l_returnflag").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_price"),
        exact_sum("l_discount", "sum_disc"),
        exact_sum("l_tax", "sum_tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=list(UNPIVOT_MEASURES),
        variableColumnName="measure",
        valueColumnName="total",
    ).orderBy("l_returnflag", "measure")


# ---------------------------------------------------------------------------
# q_cube — full cube subtotals + grouping_id bitmask (complements
# q_rollup's hierarchy; survey gap "not present: cube/grouping sets").
# One Expand (4 grouping sets) feeding one hash aggregate — not 4
# passes over lineitem. Sentinel '<all>' replaces grouping NULLs so the
# engine-agnostic hash compare never sorts NULL differently.
# ---------------------------------------------------------------------------

def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the 3 used columns + conditional widen: the Expand
    # (4 grouping sets) quadruples the scan's rows before the partial
    # aggregate, all on one core over the single-row-group fixture
    # (interleaved A/B 0.78; no-op at warehouse split counts).
    lineitem = ensure_scan_parallelism(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity"
        ),
        spark,
    )
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            exact_sum("l_quantity", "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "gid",
            "cnt",
            "sum_qty",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third subtotal shape next to
    rollup/cube: exactly (returnflag), (linestatus), and grand total,
    NOT the full cross — declared via SQL (the DataFrame API has no
    grouping-sets builder; Spark plans one Expand, same as cube)."""
    from ..tables import register_views

    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
               coalesce(l_linestatus, '<all>') AS l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(1) AS cnt,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# q_full_outer — FULL OUTER alignment of two aggregates (survey gap:
# the reference only exercises LEFT/INNER). Customer-count vs
# supplier-count per nation; the supplier side is deliberately
# restricted so unmatched rows exist on both sides and the
# key-coalescing + zero-fill semantics are actually exercised. Both
# inputs are pre-aggregated to nation grain (25 rows), so the outer
# join itself is trivially broadcastable at any SF.
# ---------------------------------------------------------------------------

FULL_OUTER_NATION_CUT = 13


def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("n_cust"))
    s = (
        supplier.where(F.col("s_nationkey") < FULL_OUTER_NATION_CUT)
        .groupBy(F.col("s_nationkey").cast("int").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    # USING-style join coalesces the key across both sides
    return (
        c.join(s, "nationkey", "full_outer")
        .na.fill(0, ["n_cust", "n_supp"])
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q_ntile_window — distribution-rank window family: ntile / percent_rank
# / cume_dist (completes the window surface next to q_rank_lag and
# q_moving_avg). The ORDER BY carries the unique event_id tie-break, so
# every rank is deterministic; percent_rank and cume_dist are exact
# integer ratios evaluated in IEEE double — bit-identical across
# engines, no rounding needed.
# ---------------------------------------------------------------------------

def q_ntile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank family with the SCALE-OUT plan (r10): the
    natural ``Window.partitionBy(event_type)`` funnels each of the 5
    type groups through ONE task — 20 TB per task at the 100 TB
    posture (the 100× sweep measured the windowed form at 22.7s/10M
    rows on exactly that shape). ``functions.ranks`` computes the
    identical exact ranks with one range exchange + an Arrow-batched
    offset pass, parallelism independent of the group cardinality;
    the window-function form is pinned equal in
    tests/test_properties.py so the semantics cannot drift."""
    from ..functions.ranks import distribution_ranks

    events = load_table(spark, sf_dir, "events")
    return (
        distribution_ranks(events, "event_type", ["value", "event_id"], 4)
        .select(
            "event_id",
            "event_type",
            F.col("bucket").cast("int").alias("quartile"),
            "pct_rank",
            "cume",
        )
        .orderBy("event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same semantics, same aliases, same determinism
# rules. Exact decimal sums mirror functions.exact_sum.
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "q_topk_count": """
        SELECT l_suppkey, count(1)::BIGINT AS cnt
        FROM lineitem GROUP BY l_suppkey
        ORDER BY cnt DESC, l_suppkey LIMIT 10
    """,
    "q_topk_join_count": """
        SELECT p_name, count(1)::BIGINT AS cnt
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        -- NULLS FIRST matches Spark's ASC default: a lineitem with no
        -- part match groups under NULL p_name, and at a tied limit-10
        -- boundary the two engines must agree on its position.
        GROUP BY p_name ORDER BY cnt DESC, p_name NULLS FIRST LIMIT 10
    """,
    "q_filter_hour_topk": """
        SELECT c_name, count(1)::BIGINT AS cnt
        FROM events LEFT JOIN customer ON user_id = c_custkey
        WHERE hour(ts) = 3
        GROUP BY c_name ORDER BY cnt DESC, c_name NULLS FIRST LIMIT 10
    """,
    "q_group_by_hour": """
        SELECT hour(ts)::INT AS hour, count(1)::BIGINT AS cnt
        FROM events GROUP BY 1 ORDER BY hour
    """,
    "q_moving_avg": """
        WITH daily AS (
            SELECT user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::INT AS day_num,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS daily_value
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, day_num,
               CAST(CAST(sum(CAST(daily_value AS DECIMAL(18,6)))
                        OVER (PARTITION BY user_id ORDER BY day_num
                              RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
               / count(1) OVER (PARTITION BY user_id ORDER BY day_num
                                RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS avg_7d
        FROM daily
    """,
    "q_case_bucket_count": f"""
        SELECT {PRICE_BAND_SQL} AS price_band, o_orderstatus, count(1)::BIGINT AS cnt
        FROM orders GROUP BY 1, 2 ORDER BY price_band, o_orderstatus
    """,
    "q_bucket_by_location": f"""
        SELECT c_nationkey::INT AS c_nationkey, {BAL_BAND_SQL} AS bal_band,
               count(1)::BIGINT AS cnt
        FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, bal_band
    """,
    "q_join_cte_inner": f"""
        WITH bucketed_customer AS (
            SELECT c_custkey, {BAL_BAND_SQL} AS bal_band FROM customer
        )
        SELECT bal_band, count(1)::BIGINT AS cnt
        FROM orders INNER JOIN bucketed_customer ON o_custkey = c_custkey
        GROUP BY bal_band ORDER BY bal_band
    """,
    "q_star_view": """
        SELECT concat_ws('_', l_orderkey, l_linenumber) AS line_key,
               l_quantity, s_name, p_name, o_orderstatus, c_name,
               c_mktsegment,
               cn.n_name AS c_nation_name, sn.n_name AS s_nation_name
        FROM lineitem
        LEFT JOIN supplier ON l_suppkey = s_suppkey
        LEFT JOIN part ON l_partkey = p_partkey
        LEFT JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation cn ON c_nationkey = cn.n_nationkey
        LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey
    """,
    "q_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
               CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(1) AS avg_qty,
               count(1)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_json_props": """
        SELECT event_type, count(1)::BIGINT AS cnt,
               sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
               min(json_extract(props, '$.k')::INT)::INT AS min_k,
               max(json_extract(props, '$.k')::INT)::INT AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q_rollup": """
        SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
               coalesce(o_orderpriority, '<all>') AS o_orderpriority,
               count(1)::BIGINT AS cnt,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "q_count_distinct": """
        SELECT event_type,
               count(DISTINCT user_id)::BIGINT AS n_users,
               count(1)::BIGINT AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q_semi_anti": """
        SELECT c_custkey, 'with_orders' AS segment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey)
        UNION ALL
        -- NOT EXISTS, never NOT IN: a NULL o_custkey would turn NOT IN
        -- UNKNOWN for every customer (anti arm empties) where Spark's
        -- left_anti keeps unmatched rows — the anti-join lockstep rule.
        SELECT c_custkey, 'no_orders' AS segment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey)
        ORDER BY c_custkey
    """,
    "q_quantiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q_quantiles_scaleout": """
        WITH ranked AS (
            SELECT event_type, value,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY value, event_id
                   ) AS rn,
                   count(1) OVER (PARTITION BY event_type) AS n
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_type,
               max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS p50_disc,
               max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN value END) AS p90_disc,
               max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                        THEN value END) AS p99_disc
        FROM ranked GROUP BY event_type ORDER BY event_type
    """,
    "q_set_ops": """
        SELECT nationkey, 'both' AS side FROM (
            SELECT c_nationkey::INT AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey::INT FROM supplier
        )
        UNION ALL
        SELECT nationkey, 'customers_only' AS side FROM (
            SELECT DISTINCT c_nationkey::INT AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey::INT FROM supplier
        )
        ORDER BY nationkey, side
    """,
    "q_pivot": """
        SELECT hour(ts)::INT AS hour,
               count(1) FILTER (event_type = 'click')::BIGINT AS n_click,
               count(1) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
               count(1) FILTER (event_type = 'view')::BIGINT AS n_view
        FROM events GROUP BY 1 ORDER BY hour
    """,
    "q_unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
                   CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc,
                   CAST(CAST(sum(CAST(l_tax AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_tax
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS total FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_tax', sum_tax FROM wide
        ORDER BY l_returnflag, measure
    """,
    "q_cube": """
        SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
               coalesce(l_linestatus, '<all>') AS l_linestatus,
               GROUPING(l_returnflag, l_linestatus)::INT AS gid,
               count(1)::BIGINT AS cnt,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_grouping_sets": """
        SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
               coalesce(l_linestatus, '<all>') AS l_linestatus,
               GROUPING(l_returnflag, l_linestatus)::INT AS gid,
               count(1)::BIGINT AS cnt,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_full_outer": f"""
        SELECT nationkey,
               coalesce(n_cust, 0)::BIGINT AS n_cust,
               coalesce(n_supp, 0)::BIGINT AS n_supp
        FROM (
            SELECT c_nationkey::INT AS nationkey, count(1) AS n_cust
            FROM customer GROUP BY 1
        ) c
        FULL OUTER JOIN (
            SELECT s_nationkey::INT AS nationkey, count(1) AS n_supp
            FROM supplier WHERE s_nationkey < {FULL_OUTER_NATION_CUT} GROUP BY 1
        ) s USING (nationkey)
        ORDER BY nationkey
    """,
    "q_ntile_window": """
        SELECT event_id, event_type,
               ntile(4) OVER w::INT AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        ORDER BY event_type, event_id
    """,
    "q_rank_lag": """
        SELECT user_id, event_id, rn, prev_event_id, next_event_id FROM (
            SELECT user_id, event_id,
                   row_number() OVER w AS rn,
                   lag(event_id) OVER w AS prev_event_id,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) t WHERE rn <= 3
        ORDER BY user_id, rn
    """,
}

QUERIES = {
    "q_topk_count": q_topk_count,
    "q_topk_join_count": q_topk_join_count,
    "q_filter_hour_topk": q_filter_hour_topk,
    "q_group_by_hour": q_group_by_hour,
    "q_moving_avg": q_moving_avg,
    "q_case_bucket_count": q_case_bucket_count,
    "q_bucket_by_location": q_bucket_by_location,
    "q_join_cte_inner": q_join_cte_inner,
    "q_star_view": q_star_view,
    "q_pricing_summary": q_pricing_summary,
    "q_json_props": q_json_props,
    "q_rollup": q_rollup,
    "q_count_distinct": q_count_distinct,
    "q_semi_anti": q_semi_anti,
    "q_rank_lag": q_rank_lag,
    "q_quantiles": q_quantiles,
    "q_quantiles_scaleout": q_quantiles_scaleout,
    "q_set_ops": q_set_ops,
    "q_pivot": q_pivot,
    "q_unpivot": q_unpivot,
    "q_cube": q_cube,
    "q_grouping_sets": q_grouping_sets,
    "q_full_outer": q_full_outer,
    "q_ntile_window": q_ntile_window,
}


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who clicked; of those, users
    whose first click was followed by a purchase; of those, a later
    view (post-purchase engagement). Stage timestamps are each user's
    FIRST qualifying event at or after the prior stage — the standard
    strictly-sequenced funnel, all joins + min aggregates, no state."""
    events = load_table(spark, sf_dir, "events")
    # single-scan / single-shuffle formulation: three chained UNBOUNDED
    # window aggregates over the SAME partitioning (user_id) — Catalyst
    # stacks the Window operators on one Exchange, so the events table
    # is read once and shuffled once (vs the naive 3-scan staged-join
    # plan, 3 shuffles). t2/t3 may reference the prior stage's window
    # column directly: the conditional min evaluates per row against
    # the user-constant t1/t2. Null stage times propagate exactly as
    # the join formulation's missing rows did (ts >= NULL is NULL →
    # excluded from the conditional min).
    w = Window.partitionBy("user_id")
    staged = (
        events.select("user_id", "ts", "event_type")
        .withColumn(
            "t1", F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"), F.count("t3").alias("c3")
    )
    return spark.createDataFrame(
        [("1_click", 0), ("2_purchase", 1), ("3_view", 2)], "stage STRING, ord INT"
    ).join(counts).select(
        "stage",
        F.when(F.col("ord") == 0, F.col("c1"))
        .when(F.col("ord") == 1, F.col("c2"))
        .otherwise(F.col("c3"))
        .alias("n_users"),
    ).orderBy("stage")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted distinct in each subsequent week offset — the standard
    retention triangle, exact integers end to end."""
    events = load_table(spark, sf_dir, "events")
    first_week = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    active = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        active.join(first_week, "user_id")
        .select(
            F.to_date("cohort_week").cast("string").alias("cohort"),
            (F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort", "week_offset")
    )


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running revenue: cumulative exact-decimal sum over the
    (ts, event_id) total order — the balance/ledger window every
    event-sourced table needs. ROWS UNBOUNDED PRECEDING on a unique
    order, so every prefix is well-defined; one Exchange on user_id."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("string")
        .cast("double")
        .alias("running_value"),
    ).orderBy("user_id", "event_id")


ORACLES["q_running_total"] = """
    SELECT user_id, event_id,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
               AS running_value
    FROM events ORDER BY user_id, event_id
"""

ORACLES["q_funnel"] = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'view' AND e.ts >= s2.t2
        GROUP BY e.user_id
    )
    SELECT stage, n_users::BIGINT AS n_users FROM (
        SELECT '1_click' AS stage, (SELECT count(1) FROM s1) AS n_users
        UNION ALL
        SELECT '2_purchase', (SELECT count(1) FROM s2)
        UNION ALL
        SELECT '3_view', (SELECT count(1) FROM s3)
    ) ORDER BY stage
"""

ORACLES["q_cohort_retention"] = """
    WITH first_week AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT CAST(cohort_week::DATE AS VARCHAR) AS cohort,
           (date_diff('day', cohort_week::DATE, week::DATE) / 7)::INT
               AS week_offset,
           count(DISTINCT user_id)::BIGINT AS n_active
    FROM active JOIN first_week USING (user_id)
    GROUP BY cohort, week_offset
    ORDER BY cohort, week_offset
"""

QUERIES["q_running_total"] = q_running_total
QUERIES["q_funnel"] = q_funnel
QUERIES["q_cohort_retention"] = q_cohort_retention


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) over the synthetic star: top-10
    undelivered orders by revenue for one market segment — the classic
    3-way selective join + aggregate + top-k. Every predicate is
    scan-pushed; ``customer`` is a broadcast dim; only the
    orders⨝lineitem join shuffles, keyed on the orderkey both sides
    aggregate on, so the groupBy reuses the join partitioning (no
    second fact Exchange). Revenue is an exact DECIMAL sum → one
    double cast — engine-portable."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = "1995-03-15"
    revenue = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(28,8)")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(orders.where(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        # no broadcast hint: customer scales with SF (file broadcast
        # policy) — AQE picks broadcast locally and degrades to
        # sort-merge on a cluster instead of OOMing the driver.
        .join(
            customer.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("string").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


ORACLES["q_shipping_priority"] = """
    SELECT l_orderkey,
           CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < '1995-03-15'
      AND l_shipdate > '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""

QUERIES["q_shipping_priority"] = q_shipping_priority


#: k-anonymity threshold: groups of quasi-identifiers smaller than
#: this are re-identification risks.
K_ANONYMITY = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the events fact: treating
    (event_type, hour-of-day, value-bucket) as the quasi-identifier
    tuple, surface equivalence classes smaller than K — the privacy
    check a dataset release pipeline runs next to PII scrubbing
    ([[q_pii_scrub]]). One aggregate, one filter; the report is
    class-count-sized, not data-sized."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "event_type",
            F.hour("ts").alias("hour"),
            F.floor(F.col("value") / 100).cast("int").alias("value_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
        .where(F.col("class_size") < K_ANONYMITY)
        .orderBy("event_type", "hour", "value_bucket")
    )


ORACLES["q_k_anonymity"] = f"""
    SELECT event_type, extract(hour FROM ts)::INT AS hour,
           floor(value / 100)::INT AS value_bucket,
           count(1)::BIGINT AS class_size
    FROM events
    GROUP BY 1, 2, 3
    HAVING count(1) < {K_ANONYMITY}
    ORDER BY event_type, hour, value_bucket
"""

QUERIES["q_k_anonymity"] = q_k_anonymity


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation where the
    customer and supplier share a nation, one region, one order year —
    the 6-way join-ordering stress test. Broadcast policy by how each
    table scales: region/nation are fixed-cardinality → hinted;
    customer/supplier grow with SF → NO hint, AQE picks broadcast
    locally and degrades to sort-merge on a cluster (same policy as
    q_star_view). lineitem joins orders on the shuffled orderkey; the
    nation-equality predicate lands as a join condition, not a
    post-filter; exact DECIMAL revenue → double via string."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(28,8)")
    return (
        lineitem.join(
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("string").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


ORACLES["q_local_supplier_volume"] = """
    SELECT n_name,
           CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""

QUERIES["q_local_supplier_volume"] = q_local_supplier_volume


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile: per user, seconds from FIRST click
    to the first purchase AFTER it; report population size, converted
    count, exact mean latency and median — the funnel-depth metric
    ([[q_funnel]] counts stages; this measures the time between them).
    Deltas are integer epoch seconds (exact), the mean is an exact
    integer-sum division, and the median uses the proven
    percentile↔quantile_cont twin. One shuffle on user_id serves both
    firsts; everything after is a two-column aggregate."""
    events = load_table(spark, sf_dir, "events")
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.unix_timestamp("ts")).alias("first_click"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_timestamp("ts").alias("p_ts")
    )
    conv = (
        clicks.join(purchases, "user_id")
        .where(F.col("p_ts") > F.col("first_click"))
        .groupBy("user_id", "first_click")
        .agg(F.min("p_ts").alias("first_purchase"))
        .select(
            "user_id",
            (F.col("first_purchase") - F.col("first_click")).alias("delta_s"),
        )
    )
    return clicks.agg(F.count(F.lit(1)).alias("n_clicked")).crossJoin(
        conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(
                F.sum("delta_s").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_delta_s"),
            F.round(F.expr("percentile(delta_s, 0.5)"), 6).alias("p50_delta_s"),
        )
    )


ORACLES["q_time_to_convert"] = """
    WITH clicks AS (
        SELECT user_id, min(floor(epoch(ts))::BIGINT) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
        SELECT c.user_id,
               min(floor(epoch(e.ts))::BIGINT) - any_value(c.first_click) AS delta_s
        FROM clicks c
        JOIN events e ON e.user_id = c.user_id
         AND e.event_type = 'purchase'
         AND floor(epoch(e.ts))::BIGINT > c.first_click
        GROUP BY c.user_id, c.first_click
    )
    SELECT (SELECT count(1) FROM clicks)::BIGINT AS n_clicked,
           count(1)::BIGINT AS n_converted,
           round(sum(delta_s)::DOUBLE / count(1)::DOUBLE, 6) AS avg_delta_s,
           round(quantile_cont(delta_s, 0.5), 6) AS p50_delta_s
    FROM conv
"""

QUERIES["q_time_to_convert"] = q_time_to_convert
