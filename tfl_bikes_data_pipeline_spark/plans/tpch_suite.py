"""The classic warehouse-analytics suite (TPC-H shapes Q4-Q22) over the
synthetic star schema — the decision-support query surface a reference
user expects next to the Q1/Q3/Q5 analogs already declared in
``plans/queries.py`` (q_pricing_summary / q_shipping_priority /
q_local_supplier_volume). Reference parity anchor: the reference's
analyst surface is grouped-aggregate joins over a star
(``/root/reference/spark/aggregations.sql``, ``make_view.sql``); these
generalize that surface to the full classic decision-support shape set.

Schema adaptations (the synthetic tables lack partsupp, commit/receipt
dates, ship modes and phone numbers):
- "late" is ``l_shipdate > o_orderdate + 90 days`` (Q4/Q21 use the
  same definition at 60/90 days).
- Q9's supply cost is proxied as 10% of ``p_retailprice``.
- Q12's ship-mode split becomes shipping-delay buckets.
- Q22's phone prefix becomes the customer nation.
- Q2/Q11/Q16/Q20 run over a SYNTHETIC partsupp (see the section at the
  bottom of this module): the fixture lacks the table, so it is derived
  deterministically from part x supplier-count with pure integer
  arithmetic, identically on the Spark and DuckDB sides.

Every plan follows the house scale rules: predicates pushed to scans,
fixed-cardinality dims (nation/region) broadcast-hinted, SF-scaling
dims left to AQE, one fact shuffle per query keyed on the aggregation
key, and every money sum through the exact-DECIMAL-via-string recipe
so the DuckDB twins hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_row_avg, exact_sum, exact_sum_col
from ..scope import retain
from ..tables import load_table

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

#: exact-DECIMAL discounted revenue, shared by most queries here
_REV = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))"


def _rev_col() -> F.Column:
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(28,8)"
    )


def _exact(col: F.Column) -> F.Column:
    """decimal sum → double via string — the single central recipe
    (functions.exact_sum_col); inputs here are pre-cast DECIMAL(28,8),
    so the recipe's cast is a no-op and the shape stays the oracle's
    ``sum(CAST(.. AS DECIMAL(28,8)))``."""
    return exact_sum_col(col, "decimal(28,8)")


# ---------------------------------------------------------------------------
# Q4 — order-priority check: orders in a quarter with at least one
# badly-late lineitem, counted by priority. The EXISTS is a LEFT SEMI
# join (never widens or duplicates the orders side).
# ---------------------------------------------------------------------------

def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    q = orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    late = q.join(
        lineitem,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLES["q_order_priority_check"] = """
    SELECT o_orderpriority, count(1)::BIGINT AS order_count
    FROM orders o
    WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o.o_orderkey
          AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: one tight scan-only aggregate; every
# predicate reaches the parquet scan, zero joins, one partial-agg
# shuffle of a single row per partition.
# ---------------------------------------------------------------------------

def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,8)"),
                "revenue_delta",
                "decimal(28,8)",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLES["q_forecast_revenue"] = """
    SELECT CAST(CAST(sum(CAST(CAST(l_extendedprice * l_discount AS DECIMAL(28,8))
               AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue_delta,
           count(1)::BIGINT AS n_items
    FROM lineitem
    WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
      AND l_discount >= 0.04 AND l_discount <= 0.08
      AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by direction and ship year.
# nation is broadcast twice under different roles; the only fact
# shuffle is lineitem⨝orders on orderkey.
# ---------------------------------------------------------------------------

_Q7_A, _Q7_B = "NATION_1", "NATION_2"


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == _Q7_A) & (F.col("cust_nation") == _Q7_B)
    ) | ((F.col("supp_nation") == _Q7_B) & (F.col("cust_nation") == _Q7_A))
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_exact(_rev_col()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLES["q_volume_shipping"] = f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           extract(year FROM l_shipdate)::INT AS l_year,
           CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
      AND ((sn.n_name = '{_Q7_A}' AND cn.n_name = '{_Q7_B}')
        OR (sn.n_name = '{_Q7_B}' AND cn.n_name = '{_Q7_A}'))
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Q8 — market share of one supplier nation inside one customer region
# for one part type, per order year. Share = exact-sum(CASE)/exact-sum;
# both operands are bit-identical doubles, so the division is too.
# ---------------------------------------------------------------------------

_Q8_NATION, _Q8_REGION, _Q8_TYPE = "NATION_5", "EUROPE", "ECONOMY"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select("n_nationkey", "n_regionkey")
    vol = _rev_col()
    nat_vol = F.when(F.col("supp_nation") == _Q8_NATION, vol).otherwise(
        F.lit(0).cast("decimal(28,8)")
    )
    return (
        lineitem.join(
            part.where(F.col("p_type") == _Q8_TYPE),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == _Q8_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (_exact(nat_vol) / _exact(vol)).alias("mkt_share"),
            _exact(vol).alias("total_volume"),
        )
        .orderBy("o_year")
    )


ORACLES["q_market_share"] = f"""
    SELECT extract(year FROM o_orderdate)::INT AS o_year,
           CAST(CAST(sum(CASE WHEN sn.n_name = '{_Q8_NATION}' THEN {_REV}
                              ELSE CAST(0 AS DECIMAL(28,8)) END) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS mkt_share,
           CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS total_volume
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE p_type = '{_Q8_TYPE}' AND r_name = '{_Q8_REGION}'
      AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
    GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Q9 (adapted) — product-type profit by supplier nation and order year,
# with supply cost proxied as 10% of p_retailprice (no partsupp table).
# The profit expression is ONE double expression evaluated identically
# in both engines, then exact-summed.
# ---------------------------------------------------------------------------

_Q9_TOKEN = "ring"


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(28,8)")
    return (
        lineitem.join(
            part.where(F.col("p_name").contains(_Q9_TOKEN)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(_exact(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLES["q_product_type_profit"] = f"""
    SELECT n_name AS nation, extract(year FROM o_orderdate)::INT AS o_year,
           CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               - 0.1 * p_retailprice * l_quantity AS DECIMAL(28,8)))
               AS VARCHAR) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%{_Q9_TOKEN}%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q10 — returned-item ranking: top-20 customers by revenue lost to
# returns in one quarter. Join order puts both selective filters on the
# fact-side scans; customer attaches after the aggregate-sized relation
# would be ideal, but grouping carries the customer attributes the
# classic way (they are functionally dependent on c_custkey).
# ---------------------------------------------------------------------------

def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= "1996-07-01")
                & (F.col("o_orderdate") < "1996-10-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_exact(_rev_col()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLES["q_returned_items"] = f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q12 (adapted) — shipping-delay buckets × order priority: the classic
# CASE-sum split, with ship modes replaced by how late the item shipped
# relative to its order date.
# ---------------------------------------------------------------------------

def q_ship_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay < 0, "early")
        .when(delay <= 30, "on_time")
        .when(delay <= 90, "late")
        .otherwise("very_late")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


ORACLES["q_ship_delay_buckets"] = """
    SELECT CASE WHEN datediff('day', o_orderdate::DATE, l_shipdate::DATE) < 0 THEN 'early'
                WHEN datediff('day', o_orderdate::DATE, l_shipdate::DATE) <= 30 THEN 'on_time'
                WHEN datediff('day', o_orderdate::DATE, l_shipdate::DATE) <= 90 THEN 'late'
                ELSE 'very_late' END AS delay_bucket,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
               AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
    GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution: LEFT OUTER join with a
# predicate INSIDE the join (not a post-filter — zero-order customers
# must survive), then a two-level aggregate.
# ---------------------------------------------------------------------------

def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderstatus") != "P"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLES["q_customer_distribution"] = """
    SELECT c_count, count(1)::BIGINT AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        GROUP BY c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q14 — promotion revenue share for one month: CASE-sum / sum, both
# through the exact recipe so the percentage divides two bit-identical
# doubles.
# ---------------------------------------------------------------------------

def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    vol = _rev_col()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(28,8)")
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * _exact(promo) / _exact(vol)).alias("promo_revenue_pct"),
            _exact(vol).alias("total_revenue"),
        )
    )


ORACLES["q_promo_revenue_share"] = f"""
    SELECT 100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV}
                       ELSE CAST(0 AS DECIMAL(28,8)) END) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS promo_revenue_pct,
           CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue: the per-supplier revenue
# relation is supplier-sized, so the global max attaches as a broadcast
# one-row join; equality on the exact-recipe double is well-defined
# because both sides of the comparison come from the same decimal sums.
# ---------------------------------------------------------------------------

def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_exact(_rev_col()).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLES["q_top_supplier"] = f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: lineitems under 20% of their
# part's average quantity, for one brand. The correlated average
# becomes a per-part aggregate joined back (Catalyst's decorrelation,
# written explicitly); quantities are integral so the decimal-exact
# average threshold is bit-identical in both engines.
# ---------------------------------------------------------------------------

def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        exact_row_avg("l_quantity", "avg_qty")
    )
    return (
        lineitem.join(
            part.where(F.col("p_brand") == "Brand#3"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, F.col("l_partkey") == F.col("avg_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (exact_sum_col("l_extendedprice", "decimal(28,8)") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLES["q_small_qty_revenue"] = """
    WITH per_part AS (
        SELECT l_partkey AS avg_partkey,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / count(1) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
               / 7.0 AS avg_yearly,
           count(1)::BIGINT AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN per_part ON l_partkey = avg_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q18 — large-volume customers: orders whose total quantity exceeds a
# threshold. The HAVING relation is orderkey-sized; it attaches to
# orders/customer as a join after the fact aggregate, never the other
# way round.
# ---------------------------------------------------------------------------

_Q18_MIN_QTY = 250


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy(F.col("l_orderkey").alias("big_orderkey"))
        .agg(exact_sum("l_quantity", "sum_qty"))
        .where(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(orders, F.col("big_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


ORACLES["q_large_volume_customers"] = f"""
    WITH big AS (
        SELECT l_orderkey AS big_orderkey,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               > {_Q18_MIN_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
    FROM big
    JOIN orders ON big_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue under a disjunction of (brand, size range,
# quantity range) triples. The OR-of-ANDs lands as ONE join filter so
# the join stays a hash join with the predicate evaluated post-probe —
# not three unioned scans.
# ---------------------------------------------------------------------------

def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def band(brand: str, smin: int, smax: int, qmin: int, qmax: int):
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= smin)
            & (F.col("p_size") <= smax)
            & (F.col("l_quantity") >= qmin)
            & (F.col("l_quantity") <= qmax)
        )

    cond = (
        band("Brand#1", 1, 10, 1, 15)
        | band("Brand#2", 10, 20, 10, 25)
        | band("Brand#3", 20, 35, 20, 35)
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            _exact(_rev_col()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLES["q_discounted_revenue"] = f"""
    SELECT CAST(CAST(sum({_REV}) AS VARCHAR) AS DOUBLE) AS revenue,
           count(1)::BIGINT AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 20 AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 35)
"""


# ---------------------------------------------------------------------------
# Q21 (adapted) — suppliers who kept orders waiting: the supplier's
# item shipped >90 days after the order date, the order involved other
# suppliers, and NONE of the others were late. EXISTS → LEFT SEMI,
# NOT EXISTS → LEFT ANTI (never NOT IN: NULL-key semantics diverge).
# ---------------------------------------------------------------------------

_Q21_NATION = "NATION_7"


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # li is the heaviest subplan (the fact join) and feeds THREE
    # readers (l1, other, other_late); without retain it would execute
    # three times per run (ReusedExchange shares child shuffles, never
    # the join itself).
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    li = retain(
        lineitem.join(
            orders.where(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("late"),
        )
    )
    l1 = li.where(F.col("late")).select("l_orderkey", "l_suppkey")
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    other_late = li.where(F.col("late")).select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = l1.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    ).join(
        other_late,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        waiting.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.where(F.col("n_name") == _Q21_NATION)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


ORACLES["q_waiting_suppliers"] = f"""
    WITH li AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    )
    SELECT s_name, count(1)::BIGINT AS numwait
    FROM li l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE l1.late
      AND n_name = '{_Q21_NATION}'
      AND EXISTS (
        SELECT 1 FROM li l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM li l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.late
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q22 (adapted) — sales opportunity: rich, order-less customers by
# nation (phone prefix → nation). Scalar threshold through the exact
# recipe; the no-orders check is a LEFT ANTI join.
# ---------------------------------------------------------------------------

def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = customer.where(F.col("c_acctbal") > 0.0).agg(
        exact_row_avg("c_acctbal", "avg_bal")
    )
    rich = customer.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cust_nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", "totacctbal"),
        )
        .orderBy("cust_nation")
    )


ORACLES["q_sales_opportunity"] = """
    WITH threshold AS (
        SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / count(1) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name AS cust_nation, count(1)::BIGINT AS numcust,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS totacctbal
    FROM customer, threshold
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name ORDER BY cust_nation
"""


QUERIES.update(
    {
        "q_order_priority_check": q_order_priority_check,
        "q_forecast_revenue": q_forecast_revenue,
        "q_volume_shipping": q_volume_shipping,
        "q_market_share": q_market_share,
        "q_product_type_profit": q_product_type_profit,
        "q_returned_items": q_returned_items,
        "q_ship_delay_buckets": q_ship_delay_buckets,
        "q_customer_distribution": q_customer_distribution,
        "q_promo_revenue_share": q_promo_revenue_share,
        "q_top_supplier": q_top_supplier,
        "q_small_qty_revenue": q_small_qty_revenue,
        "q_large_volume_customers": q_large_volume_customers,
        "q_discounted_revenue": q_discounted_revenue,
        "q_waiting_suppliers": q_waiting_suppliers,
        "q_sales_opportunity": q_sales_opportunity,
    }
)


# ---------------------------------------------------------------------------
# Synthetic partsupp — the one classic table the fixture lacks. Derived
# DETERMINISTICALLY from part x supplier-count so the Spark relation and
# the DuckDB oracle CTE construct bit-identical rows with pure integer
# arithmetic (no randomness, no floats until a final exact /100.0):
#   ps_suppkey         = (p_partkey*4 + i) % S          for i in 0..3
#                        (4 DISTINCT suppliers per part for any S >= 4)
#   ps_availqty        = (p_partkey*17 + ps_suppkey*31) % 9999 + 1
#   ps_supplycost_cents= (p_partkey*13 + ps_suppkey*7) % 100000 + 1
# Money stays integer cents through every join/aggregate; the only
# float op is a final cents/100.0 — IEEE division is exactly specified,
# so both engines emit the same double. Unlocks TPC-H Q2/Q11/Q16/Q20,
# previously declared out of scope above for lack of the table.
# ---------------------------------------------------------------------------

def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the synthetic partsupp relation. Scale shape: a narrow
    projection of part exploded x4 against a broadcast 1-row supplier
    count — no shuffle at all; at 100 TB this is a generated dimension,
    not a scanned fact."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    n_supp = load_table(spark, sf_dir, "supplier").agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        part.crossJoin(F.broadcast(n_supp))  # 1-row scalar merge
        .select(
            "p_partkey",
            "n_supp",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .withColumn(
            "ps_suppkey", (F.col("p_partkey") * 4 + F.col("i")) % F.col("n_supp")
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            "ps_suppkey",
            ((F.col("p_partkey") * 17 + F.col("ps_suppkey") * 31) % 9999 + 1)
            .cast("int")
            .alias("ps_availqty"),
            ((F.col("p_partkey") * 13 + F.col("ps_suppkey") * 7) % 100000 + 1)
            .cast("bigint")
            .alias("ps_supplycost_cents"),
        )
    )


#: the oracle-side twin of :func:`_partsupp` — spliced as a CTE into
#: each of the four oracles below so DuckDB builds the identical table.
_PS_SQL = """
partsupp AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 4 + i) % (SELECT count(*) FROM supplier) AS ps_suppkey,
           ((p_partkey * 17 + ((p_partkey * 4 + i) % (SELECT count(*) FROM supplier)) * 31) % 9999 + 1)::INT AS ps_availqty,
           ((p_partkey * 13 + ((p_partkey * 4 + i) % (SELECT count(*) FROM supplier)) * 7) % 100000 + 1)::BIGINT AS ps_supplycost_cents
    FROM part, unnest(range(0, 4)) AS t(i)
)
"""


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier: for every qualifying part, the EUROPE
# supplier(s) offering it at the regional minimum supply cost.
# ---------------------------------------------------------------------------

def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "SMALL") & (F.col("p_size") < 25)
    )
    # nation/region are SF-FIXED dims — hinted; supplier GROWS with SF
    # (10k/SF in TPC-H), so it carries no hint (AQE broadcasts it at
    # small SF; the round-8 dq_audit incident is why the policy is
    # strict). The only required shuffle is the per-part min (keyed on
    # ps_partkey, the natural key).
    eligible = (
        ps.join(supplier, ps["ps_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_supplycost_cents", "s_acctbal", "s_name", "n_name")
    )
    # rename the grouping key: best derives from eligible, and a raw
    # self-join on ps_partkey would hit Spark's ambiguous-attribute
    # fix-up (trivially-true-predicate warning) instead of a clean plan
    best = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("mc")
    ).withColumnRenamed("ps_partkey", "best_partkey")
    return (
        eligible.join(
            best,
            (F.col("ps_partkey") == F.col("best_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("mc")),
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_cents") / F.lit(100.0)).alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLES["q_min_cost_supplier"] = f"""
    WITH {_PS_SQL},
    eligible AS (
        SELECT ps.ps_partkey, ps.ps_supplycost_cents,
               s.s_acctbal, s.s_name, n.n_name
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    best AS (
        SELECT ps_partkey, min(ps_supplycost_cents) AS mc
        FROM eligible GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           (e.ps_supplycost_cents / 100.0) AS ps_supplycost
    FROM eligible e
    JOIN best b ON b.ps_partkey = e.ps_partkey
               AND b.mc = e.ps_supplycost_cents
    JOIN part p ON p.p_partkey = e.ps_partkey
               AND p.p_type = 'SMALL' AND p.p_size < 25
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q11 — important stock: parts whose stock value held by NATION_7
# suppliers exceeds 1/1000 of that nation's total. The HAVING compares
# INTEGER cents (sum*1000 > total) — no float threshold anywhere.
# ---------------------------------------------------------------------------

def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    )
    natps = (
        ps.join(supplier, ps["ps_suppkey"] == supplier["s_suppkey"])  # SF-grown: no hint
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_availqty").cast("bigint") * F.col("ps_supplycost_cents"))
            .alias("v_cents"),
        )
    )
    grouped = natps.groupBy("ps_partkey").agg(F.sum("v_cents").alias("sv"))
    total = natps.agg(F.sum("v_cents").alias("t"))
    return (
        grouped.crossJoin(F.broadcast(total))  # 1-row scalar merge
        .where(F.col("sv") * 1000 > F.col("t"))
        .select("ps_partkey", (F.col("sv") / F.lit(100.0)).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


ORACLES["q_important_stock"] = f"""
    WITH {_PS_SQL},
    natps AS (
        SELECT ps.ps_partkey,
               ps.ps_availqty::BIGINT * ps.ps_supplycost_cents AS v_cents
        FROM partsupp ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
                     AND n.n_name = 'NATION_7'
    ),
    tot AS (SELECT sum(v_cents) AS t FROM natps)
    SELECT ps_partkey, (sum(v_cents) / 100.0) AS value
    FROM natps, tot
    GROUP BY ps_partkey, t
    HAVING sum(v_cents) * 1000 > t
    ORDER BY value DESC, ps_partkey
"""


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship: distinct supplier count per
# (brand, type, size) bucket, excluding one brand and the suppliers
# with negative account balance (the fixture's analog of the classic
# "customer complaints" exclusion; deterministic on the fixture).
# ---------------------------------------------------------------------------

def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#2")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    complained = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    )
    return (
        ps.join(
            # complained ⊂ supplier — SF-grown, no forced broadcast
            complained,
            ps["ps_suppkey"] == complained["s_suppkey"],
            "left_anti",
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLES["q_parts_supplier_count"] = f"""
    WITH {_PS_SQL}
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 — excess-stock suppliers: NATION_3 suppliers holding more than
# half the 1996 shipped quantity of a 'red%' part they supply. The
# quantity sum is exact DECIMAL; the comparison is 2*availqty > sum
# (both sides DECIMAL — no 0.5 float factor).
# ---------------------------------------------------------------------------

def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_3"
    )
    shipped = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
    )
    excess = (
        # part is SF-grown even after the name filter — unhinted per the
        # broadcast policy; AQE BHJs the filtered side from measured size
        ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .where(
            (F.col("ps_availqty") * 2).cast("decimal(18,2)") > F.col("sum_qty")
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supplier.join(excess, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLES["q_excess_stock_suppliers"] = f"""
    WITH {_PS_SQL},
    shipped AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    excess AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM partsupp ps
        JOIN part p ON p.p_partkey = ps.ps_partkey
                   AND p.p_name LIKE 'red%'
        JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                       AND sh.l_suppkey = ps.ps_suppkey
        WHERE CAST(ps.ps_availqty * 2 AS DECIMAL(18,2)) > sh.sum_qty
    )
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN excess e ON e.ps_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
                 AND n.n_name = 'NATION_3'
    ORDER BY s.s_name
"""


QUERIES.update(
    {
        "q_min_cost_supplier": q_min_cost_supplier,
        "q_important_stock": q_important_stock,
        "q_parts_supplier_count": q_parts_supplier_count,
        "q_excess_stock_suppliers": q_excess_stock_suppliers,
    }
)
