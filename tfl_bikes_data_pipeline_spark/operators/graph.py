"""Graph metrics over the near-dup similarity graph: degree profile
and triangle counting — the classic distributed-graph operators a
curation stack runs to understand its duplicate structure (a heavy-
tailed degree profile or a triangle burst flags template families and
mirror clusters that pairwise counts alone hide).

Triangle counting is the textbook edge-join formulation, made
shuffle-safe the standard way: orient every edge low→high, join
oriented edges on the shared middle vertex to enumerate wedges
(a<b<c), then semi-join the closing edge. Each triangle is produced
exactly once. Work is Σ deg²(v) on the WEDGE side — the oriented-edge
trick caps the join fan-out by each vertex's OUT-degree under the
total order, the same degree-capping rationale as the dedup df-cap.
Degree stats are one aggregate over the symmetrized edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scope import retain
from ..tables import load_table


def degree_stats(pairs: DataFrame) -> DataFrame:
    """(degree, n_nodes) — the degree histogram of the undirected pair
    graph; one symmetrize union + two aggregates."""
    sym = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


def triangle_count(pairs: DataFrame, ordering: str = "degree") -> DataFrame:
    """1-row (n_triangles, n_edges, n_wedges): triangles via DEGREE-
    ORDERED wedge join + closing-edge check (node-iterator++ /
    Schank–Wagner): every edge orients from its lower-(degree, id)
    endpoint, wedges are pairs of out-edges from a common source, and
    the closing edge is the oriented (b, c) edge. Each triangle has
    exactly one generating wedge (at its minimum-key vertex), and —
    the point of the degree ordering — out-degree is bounded by O(√m)
    on ANY graph, so wedge work is O(m^1.5) even on the heavy-tailed
    degree profiles near-dup graphs produce (id-ordering leaves
    Σdeg² unbounded when a template family concentrates on low ids;
    VERDICT r4 item 8). Costs one extra degree aggregate + two linear
    joins to attach degrees; n_wedges reports the oriented wedge work
    actually examined.

    ONE wedge-join pass: the closing edge attaches as a LEFT join with
    a match flag, so triangles and wedges count in the same aggregate;
    the deduped edge and oriented-edge relations are persisted across
    their readers for the rest of the query.

    ``ordering="id"`` orients by vertex id instead (skipping the degree
    aggregate + attach joins) — ~1.2 s less constant overhead, but
    wedge work is Σ out-deg² with NO O(√m) bound under adversarial id
    placement. It exists for the measured A/B in
    ``tools/triangle_crossover.py`` (PLANS.md records the crossover);
    the declared query always uses the degree ordering because the
    100 TB failure mode (a template family concentrated on low ids) is
    exactly the one id-ordering cannot bound."""
    if ordering not in ("degree", "id"):
        raise ValueError(f"ordering must be 'degree' or 'id', got {ordering!r}")
    e = retain(
        pairs.select(
            F.least("doc_a", "doc_b").alias("lo"),
            F.greatest("doc_a", "doc_b").alias("hi"),
        ).distinct()
    )
    if ordering == "id":
        # lo < hi already: the id order needs no degree attach; the
        # wedge tie-break below degenerates to (b < c) via dd ties.
        o = retain(
            e.select(
                F.col("lo").alias("src"),
                F.col("hi").alias("dst"),
                F.lit(0).alias("dd"),
            )
        )
    else:
        sym = e.select(F.col("lo").alias("node")).unionAll(
            e.select(F.col("hi").alias("node"))
        )
        deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        ed = e.join(
            deg.select(F.col("node").alias("lo"), F.col("d").alias("dl")), "lo"
        ).join(deg.select(F.col("node").alias("hi"), F.col("d").alias("dh")), "hi")
        # key(v) = (deg(v), v); lo < hi always, so lo comes first iff
        # dl <= dh — the total order every stage below shares.
        lo_first = F.col("dl") <= F.col("dh")
        o = retain(
            ed.select(
                F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
                F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
                F.when(lo_first, F.col("dh")).otherwise(F.col("dl")).alias("dd"),
            )
        )
    x = o.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dd").alias("db_"))
    y = o.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dd").alias("dc_"))
    wedges = x.join(y, "a").where(
        (F.col("db_") < F.col("dc_"))
        | ((F.col("db_") == F.col("dc_")) & (F.col("b") < F.col("c")))
    )
    closing = o.select(
        F.col("src").alias("b"), F.col("dst").alias("c"), F.lit(1).alias("closed")
    )
    flagged = wedges.join(closing, ["b", "c"], "left")
    counts = flagged.agg(
        F.count("closed").alias("n_triangles"),
        F.count(F.lit(1)).alias("n_wedges"),
    )
    return (
        counts.crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .select("n_triangles", "n_edges", "n_wedges")
    )


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the verified MinHash-LSH near-dup graph."""
    from .dedup import _lsh_pairs_unordered

    return degree_stats(_lsh_pairs_unordered(spark, sf_dir))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph — transitivity evidence
    (near-dup similarity is approximately transitive, so template
    families show up as dense triangle clusters)."""
    from .dedup import _lsh_pairs_unordered

    return triangle_count(_lsh_pairs_unordered(spark, sf_dir))


def _lsh_pairs_sql() -> str:
    from .dedup import ORACLES as DEDUP_ORACLES

    return DEDUP_ORACLES["q_dedup_minhash_lsh"]


ORACLES: dict[str, str] = {}
ORACLES["q_graph_degrees"] = f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    sym AS (
        SELECT doc_a AS node FROM pairs
        UNION ALL
        SELECT doc_b AS node FROM pairs
    ),
    deg AS (SELECT node, count(1) AS degree FROM sym GROUP BY node)
    SELECT degree::BIGINT AS degree, count(1)::BIGINT AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
"""
ORACLES["q_graph_triangles"] = f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    e AS (
        SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
        FROM pairs
    ),
    deg AS (
        SELECT node, count(1) AS d FROM (
            SELECT lo AS node FROM e UNION ALL SELECT hi AS node FROM e
        ) GROUP BY node
    ),
    o AS (
        -- orient from the lower-(degree, id) endpoint; lo < hi always,
        -- so lo leads iff d(lo) <= d(hi) — mirror of the Spark plan
        SELECT CASE WHEN dl.d <= dh.d THEN e.lo ELSE e.hi END AS src,
               CASE WHEN dl.d <= dh.d THEN e.hi ELSE e.lo END AS dst,
               CASE WHEN dl.d <= dh.d THEN dh.d ELSE dl.d END AS dd
        FROM e
        JOIN deg dl ON dl.node = e.lo
        JOIN deg dh ON dh.node = e.hi
    ),
    wedges AS (
        SELECT x.src AS a, x.dst AS b, y.dst AS c
        FROM o x JOIN o y ON x.src = y.src
        WHERE x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst)
    )
    SELECT (SELECT count(1) FROM wedges w
            WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.b AND o.dst = w.c)
           )::BIGINT AS n_triangles,
           (SELECT count(1) FROM e)::BIGINT AS n_edges,
           (SELECT count(1) FROM wedges)::BIGINT AS n_wedges
"""

QUERIES = {
    "q_graph_degrees": q_graph_degrees,
    "q_graph_triangles": q_graph_triangles,
}

BENCH = ["q_graph_triangles"]
