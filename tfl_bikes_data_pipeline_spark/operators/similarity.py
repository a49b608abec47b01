"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Two tiers, per the standard large-scale recipe:

- **Brute-force cosine top-k** — the correctness baseline. Query set is
  broadcast; every partition scores its slice of the corpus against all
  queries and emits local rows; a single window (partitioned by query)
  takes the global top-k. Linear in corpus size, embarrassingly
  parallel — this is the right plan even at 100 TB when the query set
  is small.

- **IVF (inverted-file) search** — the scale path for large query
  volumes: vectors are assigned to their nearest centroid once
  (building the inverted index); a query probes only its ``nprobe``
  nearest centroids' partitions, cutting scored candidates by
  ~num_centroids/nprobe. Centroid "training" here is deterministic
  (seed vectors by id) — k-means refinement would drop in without
  changing the dataflow (see tests/test_similarity.py for the
  recall-vs-brute-force check).

All math is JVM-side double arithmetic (functions.vectors); no UDFs.

PRECONDITION (loudly checked, not silently assumed): every embedding
has nonzero L2 norm. Cosine of a zero vector is undefined and the
engines disagree on the fallback (Spark 0/0 → NaN sorts FIRST under
DESC, DuckDB list_cosine_similarity returns -1.0 → sorts LAST, numpy
NaN drops to the end) — tests/test_similarity.py pins the fixtures
zero-norm-free so the divergence cannot silently enter the gate; a
real ingest would filter or impute zero vectors upstream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_expr, to_double_vec, with_norm
from ..scope import retain
from ..tables import load_table

NUM_QUERIES = 5
TOP_K = 10
NUM_CENTROIDS = 8
NPROBE = 2


def _vecs(embeddings: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    """Shared vector projection. Rows with a NULL embedding are ABSENT
    from every vector operation built on this seam (the SQL-aggregate
    null convention; the zero-norm precondition note in the module
    docstring covers the sibling hazard) — downstream folds, numpy
    stacks, and driver-side centroid iterations all assume a vector is
    present when the row is."""
    return embeddings.where(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias(id_alias), to_double_vec("embedding", vec_alias)
    )


def _cos_pre(a: str, na: str, b: str, nb: str):
    """round-6 cosine from PRECOMPUTED norms — dot/(na·nb) is the same
    IEEE sequence as cosine_expr's inline sqrt(dot(a,a)) (the norm IS
    sqrt(dot)), so oracle equality is unchanged while per-pair cost
    drops by the two norm folds the inline form recomputes for every
    candidate (~2/3 of scoring flops at scale)."""
    from ..functions.vectors import dot_expr

    return F.round(F.expr(dot_expr(a, b)) / (F.col(na) * F.col(nb)), 6)


#: salt width for the two-phase exact top-k: phase 1 ranks inside
#: (qid, hash(vec_id) % SALT) buckets, so the per-query sort spreads
#: over TOPK_SALT× more tasks and phase 2 sees ≤ SALT·k rows per query
#: instead of the whole corpus. 64 keeps every local[32] core busy at
#: query counts as low as 1 and is still only 64·k rows per query on a
#: 1000-executor cluster.
TOPK_SALT = 64


def _topk_by_query(scored: DataFrame, k: int, salt: int = TOPK_SALT) -> DataFrame:
    """Exact per-query top-k over a (qid, vec_id, cos_sim) relation —
    the two-phase salted form of ``row_number() OVER (PARTITION BY
    qid)``. A single qid-partitioned window sorts the ENTIRE candidate
    set in as many tasks as there are queries (the r6 scale audit
    measured q_knn_classify growing 5.9× at 4× data on exactly this:
    5 sort tasks for a corpus-sized candidate set). Phase 1 ranks
    inside deterministic (qid, hash(vec_id) % TOPK_SALT) buckets —
    every global top-k row is by definition within the top-k of its
    own bucket, so discarding bucket ranks > k is lossless — and
    phase 2 ranks the ≤ SALT·k survivors per query. Same exact output
    (the (cos_sim DESC, vec_id ASC) total order makes top-k unique),
    same oracle, corpus-scale sorts now fan out across the cluster.

    ``salt`` is output-invariant by the losslessness argument above —
    tests/test_properties.py sweeps 1/64/256 on a corpus-scale fixture
    so TOPK_SALT can be retuned without re-proving correctness."""
    w1 = Window.partitionBy("qid", "__b").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    pruned = (
        scored.withColumn("__b", F.pmod(F.hash("vec_id"), F.lit(salt)))
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__b", "__r1")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus, two-phase
    salted top-k (:func:`_topk_by_query`). Norms are computed ONCE per
    vector on each side, not per pair.
    Output: (qid, vec_id, cos_sim, rank)."""

    cn = with_norm(corpus, "cv", "ncv")
    qn = with_norm(queries, "qv", "nqv")
    scored = (
        cn.crossJoin(F.broadcast(qn))
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", _cos_pre("qv", "nqv", "cv", "ncv").alias("cos_sim"))
    )
    return _topk_by_query(scored, k)


def ivf_assign(embeddings: DataFrame, num_centroids: int = NUM_CENTROIDS) -> DataFrame:
    """Assign every vector to its max-cosine centroid (deterministic
    seed centroids: the ``num_centroids`` lowest vec_ids). Output:
    (vec_id, centroid_id). Delegates to :func:`assign_to_centroids` —
    ONE copy of the broadcast-argmax tie-break contract. Corpus side
    conditionally widened (no-op at warehouse split counts): the narrow
    argmax has no exchange to fan the one-split fixture scan out."""
    from ..tables import ensure_scan_parallelism

    return assign_to_centroids(
        _vecs(
            ensure_scan_parallelism(embeddings, embeddings.sparkSession),
            "vec_id",
            "cv",
        ),
        _vecs(
            embeddings.where(F.col("vec_id") < num_centroids),
            "centroid_id",
            "qv",
        ),
    )


def ivf_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
) -> DataFrame:
    """ANN via inverted file over the deterministic SEED centroids —
    delegates to :func:`ivf_search_with_centroids` (one copy of the
    nprobe dataflow; the refined-index variant passes Lloyd-refined
    centroids instead). Output: (qid, vec_id, cos_sim, rank)."""
    seeds = _vecs(
        embeddings.where(F.col("vec_id") < num_centroids),
        "centroid_id",
        "qv",
    )
    return ivf_search_with_centroids(embeddings, queries, seeds, k, nprobe)


#: Comparator mirroring the centroid-assignment window's ordering
#: (cos_sim DESC NULLS LAST, centroid_id ASC NULLS FIRST) as an
#: array_sort lambda over (s, cid) structs — the total order that makes
#: the narrow per-row ranking below bit-identical to the
#: row_number()-over-window form it replaced (r14). round-6 scores are
#: plain finite doubles (Spark's Round goes through BigDecimal, which
#: has no -0.0 and no NaN; the zero-norm precondition excludes NaN
#: inputs), so these double comparisons and the window's normalized
#: sort keys agree on every tie class; cid is unique, so the order is
#: total and the sort is insertion-order-independent.
_CENTROID_RANK_CMP = (
    "(l, r) -> CASE "
    "WHEN l.s IS NULL AND r.s IS NOT NULL THEN 1 "
    "WHEN r.s IS NULL AND l.s IS NOT NULL THEN -1 "
    "WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
    "WHEN l.cid IS NULL AND r.cid IS NOT NULL THEN -1 "
    "WHEN r.cid IS NULL AND l.cid IS NOT NULL THEN 1 "
    "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END"
)


def _centroid_bundle(kn: DataFrame) -> DataFrame:
    """ONE-row relation carrying the whole centroid set as an array of
    (cid, qv, nqv) structs. Bounded by construction: this helper serves
    the IVF SERVING tier, whose centroid count is the fixed
    NUM_CENTROIDS-sized index constant (the lint recognizes the global
    aggregate as cardinality-bounding). The corpus-scaled-k dedup
    blocking paths (k = n/50) keep their hierarchical join shape in
    operators/dedup.py — a single array row cannot hold millions of
    centroids."""
    return kn.agg(
        F.collect_list(
            F.struct(
                F.col("centroid_id").alias("cid"),
                F.col("qv").alias("qv"),
                F.col("nqv").alias("nqv"),
            )
        ).alias("cents")
    )


def _ranked_cents_expr(vec: str, nrm: str) -> str:
    """SQL expression: the broadcast centroid array scored against this
    row's (``vec``, ``nrm``) and sorted by the window-identical order —
    the NARROW form of "rank all centroids per vector". The
    crossJoin+window form it replaces (r14) fanned the corpus out k×
    and shuffled the array-bearing rows once per invocation just to
    compute a per-row argmax/top-p; this computes the same ranking
    inside the row with ZERO exchange (guide §2.4). Score is the same
    IEEE sequence as _cos_pre (dot fold, then one divide by the
    precomputed norm product, then round 6)."""
    from ..functions.vectors import dot_expr

    scored = (
        f"transform(cents, c -> struct("
        f"round(({dot_expr(vec, 'c.qv')}) / ({nrm} * c.nqv), 6) AS s, "
        f"c.cid AS cid))"
    )
    return f"array_sort({scored}, {_CENTROID_RANK_CMP})"


def assign_to_centroids(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id) for arbitrary (bounded, serving-tier)
    centroid relations — per-row broadcast argmax, ties on centroid_id.
    Corpus-side norms computed once per vector, not once per
    (vector, centroid) pair.

    NARROW since r14: the centroid set rides along as ONE broadcast
    array row and each vector picks its winner inside the row — the
    previous crossJoin+row_number form materialized n·k scored rows and
    shuffled the corpus (with its arrays) through a window exchange per
    invocation, pure overhead for a per-row argmax. Winner and
    tie-break are bit-identical (see _CENTROID_RANK_CMP); the
    empty-centroids guard reproduces the crossJoin's empty result."""
    cn = with_norm(corpus, "cv", "ncv")
    kn = with_norm(centroids, "qv", "nqv")
    return (
        cn.crossJoin(F.broadcast(_centroid_bundle(kn)))
        .where(F.expr("size(cents) > 0"))
        .select(
            "vec_id",
            F.expr(
                f"element_at({_ranked_cents_expr('cv', 'ncv')}, 1).cid"
            ).alias("centroid_id"),
        )
    )


def kmeans_refine(
    corpus: DataFrame, centroids: DataFrame, iterations: int = 2
) -> DataFrame:
    """Lloyd iterations over the IVF centroids: assign → element-wise
    mean per cluster (posexplode + (centroid, pos) average + re-collect)
    → reassign. Iterative-algorithm shape: a short driver loop, each
    round one assign shuffle + one mean shuffle; centroid relations are
    tiny and broadcast. Returns refined centroids (centroid_id, qv).

    Empty clusters keep their previous centroid (standard Lloyd fix) —
    the left join + coalesce below.

    The per-component mean is an exact DECIMAL sum divided once in
    double (not ``F.avg``, whose double streaming sum is partition-order
    dependent): refined centroids are therefore bit-identical under any
    shuffle AND engine-portable, which is what lets a fixed-round Lloyd
    run have a DuckDB oracle at all.

    Each round's refined centroids are COLLECTED to the driver (k·dim
    doubles — bounded algorithm state, MLlib's own placement) and
    re-created as a literal relation: the previous lazy loop referenced
    ``centroids`` twice per round, doubling the analyzed plan each
    round, and every downstream consumer independently re-executed the
    whole Lloyd chain (the optimizer-gotchas lesson; values are
    unchanged because the means are decimal-exact and order-free).

    The normed corpus is PERSISTED once before the loop (r14, VERDICT
    r13 item 3): each round's collect job previously re-executed the
    corpus subtree from the scan — at 100 TB every Lloyd round is a
    full corpus re-scan. Round 1 populates the cache; every later
    round (and, because Spark's CacheManager matches canonicalized
    analyzed plans, the caller's own ``with_norm(corpus)`` consumers —
    the final assign/search pass of q_ann_kmeans_assign and
    q_ann_ivf_refined_topk) reads the cached relation."""
    spark = corpus.sparkSession
    # one corpus pass TOTAL (r13 removed the per-round re-join; r14
    # retains the normed corpus across rounds).
    cn = retain(with_norm(corpus, "cv", "ncv"))
    for _ in range(iterations):
        kn = with_norm(centroids, "qv", "nqv")
        # narrow per-row argmax (r14): the previous crossJoin+window
        # shuffled the array-bearing corpus once per Lloyd round just
        # to rank k broadcast centroids per vector; the ranking now
        # happens inside the row (zero exchange per round — the only
        # remaining shuffle is the means' partial-aggregated groupBy).
        # Winner/tie-break bit-identical to assign_to_centroids.
        assigned = (
            cn.crossJoin(F.broadcast(_centroid_bundle(kn)))
            .where(F.expr("size(cents) > 0"))
            .select(
                F.expr(
                    f"element_at({_ranked_cents_expr('cv', 'ncv')}, 1).cid"
                ).alias("centroid_id"),
                "cv",
            )
        )
        means = (
            assigned
            .select("centroid_id", F.posexplode("cv").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(27,6)"))
                .cast("string")
                .cast("double")
                .alias("sx"),
            )
            .select("centroid_id", "pos", (F.col("sx") / F.col("n")).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s")
            )
            .select(
                "centroid_id", F.expr("transform(s, e -> e.m)").alias("new_qv")
            )
        )
        stepped = centroids.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("new_qv", "qv").alias("qv")
        )
        rows = stepped.collect()
        centroids = spark.createDataFrame(
            [(r.centroid_id, [float(x) for x in r.qv]) for r in rows],
            "centroid_id long, qv array<double>",
        )
    return centroids


def inertia(corpus: DataFrame, centroids: DataFrame) -> float:
    """Mean (1 - cosine) to the assigned centroid — the quality metric
    the refinement must not worsen."""
    assign = assign_to_centroids(corpus, centroids)
    scored = (
        corpus.join(assign, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(cosine_expr("qv", "cv").alias("cs"))
    )
    return float(scored.agg(F.avg(F.lit(1.0) - F.col("cs"))).first()[0])


def cosine_topk_arrow(
    corpus: DataFrame, query_rows: list, k: int = TOP_K
) -> DataFrame:
    """Brute-force top-k with an Arrow-batched numpy scorer — the
    high-dimension throughput path. The (small) query set is collected
    once and closure-shipped; each Arrow batch of the corpus is scored
    as ONE matrix multiply against the normalized query matrix, and only
    the batch-local top-k per query survives to the shuffle (≤ q·k rows
    per batch), after which a global window finishes the top-k.

    Trade-off vs ``cosine_topk``: the JVM aggregate wins at low dims /
    few queries (no Python boundary at all); BLAS wins as d·q grows —
    both produce identical rankings. Output: (qid, vec_id, cos_sim, rank).

    The numpy stage only GENERATES CANDIDATES; the surviving rows'
    cos_sim is recomputed JVM-side with the same expression the plain
    path and the oracle use, so no numpy rounding ever reaches the
    output (np.round is half-even where the engines round half-up —
    a measured tie-class divergence; review r5). The batch prune keeps
    everything within one 6-dp grid step of the batch's k-th ROUNDED
    score with vec_id as tie-break — the global winner under the
    rounded ordering can never be pruned (the earlier unrounded-prune
    could drop a tied row that won the global tie-break)."""
    import numpy as np

    spark = corpus.sparkSession
    if not query_rows:
        # empty query set: no candidates, typed empty result
        return spark.createDataFrame(
            [], "qid bigint, vec_id bigint, cos_sim double, rank int"
        )
    qids = np.array([r[0] for r in query_rows], dtype=np.int64)
    qm = np.vstack([np.asarray(r[1], dtype=np.float64) for r in query_rows])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def candidate_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            c = np.vstack(pdf["cv"].to_numpy())
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ qm.T  # (batch, queries)
            out_q, out_v = [], []
            for j, qid in enumerate(qids):
                mask = ids != qid
                col = sims[:, j][mask]
                mids = ids[mask]
                # half-up 6-dp rounding for SELECTION only; TWO grid
                # steps of slack (+ epsilon) absorb double-rounding at
                # grid boundaries: a pruned row's numpy-rounded score
                # and its JVM-recomputed rounded score can each move by
                # one 1e-6 step in opposite directions, so only a
                # >=2.5e-6 margin guarantees a pruned row's
                # engine-rounded score lands strictly below any kept
                # row's (the never-pruned claim must hold even when the
                # pruned row would win the vec_id tie-break).
                r = np.floor(col * 1e6 + 0.5) / 1e6
                if len(r) > k:
                    kth = np.partition(r, len(r) - k)[len(r) - k]
                    keep = r >= kth - 2.5e-6
                else:
                    keep = np.ones(len(r), dtype=bool)
                sel = mids[keep]
                out_q.extend([qid] * len(sel))
                out_v.extend(sel)
            yield pd.DataFrame({"qid": out_q, "vec_id": out_v})

    cand = corpus.select("vec_id", "cv").mapInPandas(
        candidate_batches, "qid BIGINT, vec_id BIGINT"
    )
    queries = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in query_rows],
        "qid long, qv array<double>",
    )
    scored = (
        cand.join(corpus, "vec_id")
        .join(F.broadcast(queries), "qid")
        .select("qid", "vec_id", cosine_expr("qv", "cv").alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings = load_table(spark, sf_dir, "embeddings")
    corpus = _vecs(embeddings, "vec_id", "cv")
    queries = _vecs(embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv")
    return cosine_topk(corpus, queries)


def q_ann_brute_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_ann_brute_topk via the Arrow/numpy scorer —
    shares its oracle (identical ranking; scores rounded to 6 dp)."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    corpus = _vecs(embeddings, "vec_id", "cv")
    query_rows = [
        (r["qid"], r["qv"])
        for r in _vecs(
            embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv"
        ).collect()
    ]
    return cosine_topk_arrow(corpus, query_rows)


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings = load_table(spark, sf_dir, "embeddings")
    return (
        ivf_assign(embeddings)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .orderBy("centroid_id")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings = load_table(spark, sf_dir, "embeddings")
    queries = _vecs(embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv")
    return ivf_search(embeddings, queries)


def q_ann_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build with refined centroids (2 Lloyd rounds from the
    deterministic seeds): cluster population per refined centroid.
    Deterministic seeds + a fixed iteration count + exact-decimal means
    make the whole run SQL-expressible, so the iterated algorithm gets a
    full DuckDB oracle (2 unrolled Lloyd rounds) — plus the inertia
    regression check in tests/test_similarity.py."""
    from ..tables import ensure_scan_parallelism

    embeddings = load_table(spark, sf_dir, "embeddings")
    # widened since r14 (no-op at warehouse split counts): the corpus
    # is now CACHED once for the Lloyd loop, so the round-robin runs
    # once into the cache instead of once per round (the r13 finding
    # that rejected this widen — "the driver loop re-executes the
    # repartition every round" — no longer applies), and the narrow
    # argmax has no exchange left to fan the one-split fixture out.
    corpus = _vecs(
        ensure_scan_parallelism(embeddings, spark), "vec_id", "cv"
    )
    seeds = _vecs(
        embeddings.where(F.col("vec_id") < NUM_CENTROIDS), "centroid_id", "qv"
    )
    refined = kmeans_refine(corpus, seeds, iterations=2)
    return (
        assign_to_centroids(corpus, refined)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_COS = "round(list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[]), 6)"

ORACLES: dict[str, str] = {
    "q_ann_brute_topk": f"""
        SELECT q.vec_id AS qid, c.vec_id AS vec_id,
               {_COS.format(a='q.embedding', b='c.embedding')} AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id
               )::INT AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {NUM_QUERIES}
        QUALIFY rank <= {TOP_K}
        ORDER BY qid, rank
    """,
    "q_ann_ivf_assign": f"""
        WITH scored AS (
            SELECT c.vec_id, k.vec_id AS centroid_id,
                   {_COS.format(a='k.embedding', b='c.embedding')} AS cos_sim
            FROM embeddings c JOIN embeddings k ON k.vec_id < {NUM_CENTROIDS}
        ),
        assign AS (
            SELECT vec_id, centroid_id
            FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
        )
        SELECT centroid_id, count(1)::BIGINT AS n_assigned
        FROM assign GROUP BY centroid_id ORDER BY centroid_id
    """,
    "q_ann_ivf_topk": f"""
        WITH scored_assign AS (
            SELECT c.vec_id, k.vec_id AS centroid_id,
                   {_COS.format(a='k.embedding', b='c.embedding')} AS cos_sim
            FROM embeddings c JOIN embeddings k ON k.vec_id < {NUM_CENTROIDS}
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM scored_assign
            QUALIFY row_number() OVER (
                PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
        ),
        probes AS (
            SELECT q.vec_id AS qid, k.vec_id AS centroid_id
            FROM embeddings q JOIN embeddings k ON k.vec_id < {NUM_CENTROIDS}
            WHERE q.vec_id < {NUM_QUERIES}
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_COS.format(a='q.embedding', b='k.embedding')} DESC, k.vec_id
            ) <= {NPROBE}
        )
        SELECT p.qid, c.vec_id,
               {_COS.format(a='q.embedding', b='c.embedding')} AS cos_sim,
               row_number() OVER (
                   PARTITION BY p.qid
                   ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id
               )::INT AS rank
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN embeddings c ON c.vec_id = a.vec_id AND c.vec_id != p.qid
        JOIN embeddings q ON q.vec_id = p.qid
        QUALIFY rank <= {TOP_K}
        ORDER BY qid, rank
    """,
}

ORACLES["q_ann_brute_arrow"] = ORACLES["q_ann_brute_topk"]


def _lloyd_round_sql(i: int, prev: str) -> str:
    """One unrolled Lloyd round as CTE text: argmax-cosine assignment
    against ``prev`` centroids, exact-decimal per-dimension means
    (textual twin of kmeans_refine's aggregate), empty clusters keep
    their previous centroid."""
    return f"""
        assign{i} AS (
            SELECT c.vec_id, k.centroid_id, c.cv
            FROM corpus c CROSS JOIN {prev} k
            QUALIFY row_number() OVER (
                PARTITION BY c.vec_id
                ORDER BY round(list_cosine_similarity(k.qv, c.cv), 6) DESC,
                         k.centroid_id
            ) = 1
        ),
        means{i} AS (
            SELECT centroid_id, list(m ORDER BY dim) AS qv
            FROM (
                SELECT centroid_id, dim,
                       CAST(CAST(sum(CAST(val AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
                           / count(1) AS m
                FROM (
                    SELECT centroid_id,
                           generate_subscripts(cv, 1) - 1 AS dim,
                           unnest(cv) AS val
                    FROM assign{i}
                )
                GROUP BY centroid_id, dim
            )
            GROUP BY centroid_id
        ),
        cent{i} AS (
            SELECT k.centroid_id, coalesce(m.qv, k.qv) AS qv
            FROM {prev} k LEFT JOIN means{i} m USING (centroid_id)
        )"""


# 2 fixed Lloyd rounds, unrolled: the Spark side's exact-decimal means
# make each round's refined centroids bit-equal across engines, so the
# final assignment counts are exact-integer comparable.
ORACLES["q_ann_kmeans_assign"] = f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    cent0 AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {NUM_CENTROIDS}
    ),
    {_lloyd_round_sql(1, "cent0")},
    {_lloyd_round_sql(2, "cent1")},
    final_assign AS (
        SELECT c.vec_id, k.centroid_id
        FROM corpus c CROSS JOIN cent2 k
        QUALIFY row_number() OVER (
            PARTITION BY c.vec_id
            ORDER BY round(list_cosine_similarity(k.qv, c.cv), 6) DESC,
                     k.centroid_id
        ) = 1
    )
    SELECT centroid_id, count(1)::BIGINT AS n_assigned
    FROM final_assign GROUP BY centroid_id ORDER BY centroid_id
"""

def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid, long-form ``(label, dim, mean_val)`` — class
    prototypes for few-shot retrieval / cluster QA over the corpus.

    ``posexplode`` melts vectors to (label, dim, val); one hash
    aggregate of exact DECIMAL sums per (label, dim) gives
    order-independent means (same [[exact-sum]] discipline as every
    double aggregate here). Long form scales with dims × labels, stays
    fully JVM-side, and re-assembles to vectors with
    ``array_agg(... ORDER BY dim)`` only at the consumer edge —
    aggregating whole arrays element-wise would put a Python UDF or a
    ragged struct fold in the hot path instead of a codegen aggregate."""
    melted = embeddings.select(
        "label", F.posexplode(to_double_vec("embedding", "v")).alias("dim", "val")
    )
    return (
        melted.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(27,6)")).cast("string").cast("double").alias("sv"),
        )
        .selectExpr("label", "dim", "n", "sv / n AS mean_val")
    )


def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb).orderBy("label", "dim")


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component stats via higher-order array functions —
    ``filter``/``size`` and ``array_position``/``array_max`` run inside
    codegen on the JVM, the idiomatic way to compute per-row array
    facts without exploding (the melt in ``label_centroids``) or
    Python. Integer outputs (count, argmax index) keep the result
    engine-exact; float32 equality in argmax is bit-equality of the
    same stored value on both engines."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # the module-wide null-absent rule
    )
    return emb.select(
        "vec_id",
        "label",
        F.expr("CAST(size(filter(embedding, x -> x > 0)) AS INT)").alias("n_pos"),
        F.expr(
            "CAST(array_position(embedding, array_max(embedding)) - 1 AS INT)"
        ).alias("argmax_dim"),
    ).orderBy("vec_id")


ORACLES["q_vector_stats"] = """
    SELECT vec_id, label,
           len(list_filter(embedding, x -> x > 0))::INT AS n_pos,
           (list_position(embedding, list_max(embedding)) - 1)::INT AS argmax_dim
    FROM embeddings ORDER BY vec_id
"""

ORACLES["q_embed_centroid"] = """
    WITH melted AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS val
        FROM embeddings
    )
    SELECT label, dim, count(1)::BIGINT AS n,
           CAST(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
               / count(1) AS mean_val
    FROM melted GROUP BY label, dim ORDER BY label, dim
"""

#: symmetric int8 quantization range
INT8_LEVELS = 127


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """(vec_id, scale, codes) — per-vector symmetric int8 quantization:
    ``scale = max|x| / 127``, ``code = round(x / scale) ∈ [-127, 127]``.
    The storage/serving compression step of an embedding pipeline (4×
    smaller than float32, dot products stay integer); a pure narrow
    ``transform`` projection — fuses into the scan, zero shuffle, the
    ideal 100 TB shape. All-zero vectors quantize to all-zero codes
    (scale 0 guard). ``round`` runs on an exactly-representable double
    in both engines, and the cast happens on an integral value, so the
    codes are engine-exact."""
    e = embeddings.where(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cv"),
    ).withColumn(
        "mx", F.expr("array_max(transform(cv, x -> abs(x)))")
    ).withColumn(
        "scale", F.col("mx") / F.lit(float(INT8_LEVELS))
    )
    codes = (
        "CASE WHEN mx = 0.0 THEN transform(cv, x -> 0) "
        "ELSE transform(cv, x -> CAST(round(x / scale) AS INT)) END"
    )
    return e.select("vec_id", "scale", F.expr(codes).alias("codes"))


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization audit: per-vector scale + integer code profile
    (min/max/sum — saturation and bias checks, all engine-exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    return q.select(
        "vec_id",
        "scale",
        F.expr("array_min(codes)").alias("qmin"),
        F.expr("array_max(codes)").alias("qmax"),
        F.expr(
            "aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("qsum"),
    ).orderBy("vec_id")


ORACLES["q_embed_quantize"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    m AS (
        SELECT vec_id, cv,
               list_max(list_transform(cv, x -> abs(x))) AS mx
        FROM v
    ),
    q AS (
        SELECT vec_id, mx / {float(INT8_LEVELS)} AS scale,
               CASE WHEN mx = 0.0 THEN list_transform(cv, x -> 0)
                    ELSE list_transform(cv, x -> CAST(round(x / (mx / {float(INT8_LEVELS)})) AS INT))
               END AS codes
        FROM m
    )
    SELECT vec_id, scale,
           list_min(codes)::INT AS qmin,
           list_max(codes)::INT AS qmax,
           list_sum(codes)::BIGINT AS qsum
    FROM q ORDER BY vec_id
"""

def quantized_mips_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """(qid, vec_id, score, rank) — maximum-inner-product search over
    int8 codes: integer dot product per pair (≤ 64·127² ≈ 1M, exact in
    any engine), descaled by the two per-vector scales. The quantized
    serving path: the corpus ships 4× smaller, the hot loop is integer
    multiply-add, and ranking quality degrades only by the quantization
    error (recall vs the float path pinned in tests). Same broadcast
    query-set shape as :func:`cosine_topk`."""
    q = quantize_int8(embeddings)
    queries = q.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("scale").alias("qscale"),
        F.col("codes").alias("qcodes"),
    )
    idot = (
        "aggregate(zip_with(qcodes, codes, (a, b) -> CAST(a AS BIGINT) * b), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    scored = (
        q.crossJoin(F.broadcast(queries))
        .where(F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            "vec_id",
            (F.expr(idot).cast("double") * F.col("qscale") * F.col("scale")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantized_mips_topk(load_table(spark, sf_dir, "embeddings"))


def ivf_search_with_centroids(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF probe/search against an ARBITRARY centroid relation (the
    composition point: seed centroids give :func:`ivf_search`, refined
    centroids give the trained index). Same bucketed dataflow: assign
    once, probe ``nprobe`` buckets per query, score only within them.

    NARROW assignment since r14: the centroid set rides as one
    broadcast array row and each corpus vector computes its home bucket
    inside the row, so the previous ``corpus ⨝ assign`` equi-join — a
    full corpus shuffle by vec_id whose only purpose was re-attaching
    the argmax result to the arrays it was computed from — is gone;
    the probe-side ranking takes the same narrow form (winner set
    identical, see _CENTROID_RANK_CMP). The only remaining wide
    exchange is the bucket-keyed probe join, which is the minimum the
    IVF dataflow admits.

    The corpus side is widened CONDITIONALLY (a no-op whenever the
    scan has >= slots/2 splits, i.e. at any warehouse scale): with the
    window/join exchanges gone, nothing fans the one-split local
    fixture out any more, and the whole scoring+verify pipeline
    serialized on one core (measured: the first narrow form ran 8
    single-task stages and A/B'd 1.5x WORSE on q_ann_ivf_topk; widened
    it A/Bs below the window form). r13 measured this same widen 1.09x
    worse — against the window form, whose exchanges did the fanning
    incidentally."""
    from ..tables import ensure_scan_parallelism

    embeddings = ensure_scan_parallelism(embeddings, embeddings.sparkSession)
    cn = with_norm(_vecs(embeddings, "vec_id", "cv"), "cv", "ncv")
    kn = with_norm(centroids, "qv", "nqv")
    bundle = _centroid_bundle(kn)
    corpus = (
        cn.crossJoin(F.broadcast(bundle))
        .where(F.expr("size(cents) > 0"))
        .select(
            "vec_id",
            "cv",
            "ncv",
            F.expr(
                f"element_at({_ranked_cents_expr('cv', 'ncv')}, 1).cid"
            ).alias("centroid_id"),
        )
    )
    qn = with_norm(queries, "qv", "nqv")
    probes = (
        qn.crossJoin(F.broadcast(bundle))
        .where(F.expr("size(cents) > 0"))
        .select(
            "qid",
            "qv",
            "nqv",
            F.explode(
                F.expr(f"slice({_ranked_cents_expr('qv', 'nqv')}, 1, {nprobe})")
            ).alias("pc"),
        )
        .select("qid", "qv", "nqv", F.col("pc.cid").alias("centroid_id"))
    )
    scored = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", _cos_pre("qv", "nqv", "cv", "ncv").alias("cos_sim"))
    )
    return _topk_by_query(scored, k)


def q_ann_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF index end-to-end: 2 Lloyd rounds refine the seed
    centroids, then the nprobe search runs against the refined index —
    the full build-then-serve ANN pipeline as one declared relation."""
    from ..tables import ensure_scan_parallelism

    embeddings = load_table(spark, sf_dir, "embeddings")
    # widened since r14 (no-op at warehouse split counts) — same
    # reasoning as q_ann_kmeans_assign: the repartition now runs once
    # into the cached corpus, and this construction path matches
    # ivf_search_with_centroids' own widened corpus subtree exactly, so
    # the search phase reads the SAME cache the Lloyd loop populated.
    corpus = _vecs(
        ensure_scan_parallelism(embeddings, spark), "vec_id", "cv"
    )
    seeds = _vecs(
        embeddings.where(F.col("vec_id") < NUM_CENTROIDS), "centroid_id", "qv"
    )
    refined = kmeans_refine(corpus, seeds, iterations=2)
    queries = _vecs(embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv")
    return ivf_search_with_centroids(embeddings, queries, refined)


ORACLES["q_ann_quantized_topk"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    m AS (
        SELECT vec_id, cv,
               list_max(list_transform(cv, x -> abs(x))) AS mx
        FROM v
    ),
    q AS (
        SELECT vec_id, mx / {float(INT8_LEVELS)} AS scale,
               CASE WHEN mx = 0.0 THEN list_transform(cv, x -> 0)
                    ELSE list_transform(cv, x -> CAST(round(x / (mx / {float(INT8_LEVELS)})) AS INT))
               END AS codes
        FROM m
    ),
    scored AS (
        SELECT a.vec_id AS qid, c.vec_id AS vec_id,
               CAST(CAST(list_dot_product(a.codes::DOUBLE[], c.codes::DOUBLE[]) AS BIGINT)
                    AS DOUBLE) * a.scale * c.scale AS score
        FROM q a JOIN q c ON a.vec_id < {NUM_QUERIES} AND c.vec_id != a.vec_id
    )
    SELECT qid, vec_id, score,
           row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, vec_id
           )::INT AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
    ORDER BY qid, rank
"""

# trained-index search: the 2-round Lloyd CTE chain (same rounds as the
# kmeans oracle) feeding the IVF probe/search SQL — build-then-serve
# end to end.
ORACLES["q_ann_ivf_refined_topk"] = f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    cent0 AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {NUM_CENTROIDS}
    ),
    {_lloyd_round_sql(1, "cent0")},
    {_lloyd_round_sql(2, "cent1")},
    assign AS (
        SELECT c.vec_id, k.centroid_id
        FROM corpus c CROSS JOIN cent2 k
        QUALIFY row_number() OVER (
            PARTITION BY c.vec_id
            ORDER BY round(list_cosine_similarity(k.qv, c.cv), 6) DESC,
                     k.centroid_id
        ) = 1
    ),
    probes AS (
        SELECT q.vec_id AS qid, k.centroid_id
        FROM embeddings q CROSS JOIN cent2 k
        WHERE q.vec_id < {NUM_QUERIES}
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], k.qv), 6) DESC,
                     k.centroid_id
        ) <= {NPROBE}
    )
    SELECT p.qid, c.vec_id,
           {_COS.format(a='q.embedding', b='c.embedding')} AS cos_sim,
           row_number() OVER (
               PARTITION BY p.qid
               ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id
           )::INT AS rank
    FROM probes p
    JOIN assign a ON a.centroid_id = p.centroid_id
    JOIN embeddings c ON c.vec_id = a.vec_id AND c.vec_id != p.qid
    JOIN embeddings q ON q.vec_id = p.qid
    QUALIFY rank <= {TOP_K}
    ORDER BY qid, rank
"""

# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search
# ---------------------------------------------------------------------------

PQ_M = 8         # subspaces (64 dims / PQ_SUB)
PQ_SUB = 8       # dims per subspace
PQ_KSUB = 16     # sub-centroids per subspace → 4-bit codes
PQ_SHORTLIST = 64  # ADC candidates kept per query for exact re-rank

#: micro-int L2 between two small double vectors: left-fold of squared
#: differences on the round-6 grid ×1e6 — integer thereafter, so every
#: downstream sum/compare is order-exact in any engine.
_L2_MICRO = (
    "CAST(round(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) * 1000000.0, 0) AS BIGINT)"
)

#: the DuckDB twin of _L2_MICRO (1-based list indexing, list_sum fold)
_L2_MICRO_SQL = (
    "CAST(round(list_sum(list_transform(range(1, {n} + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) * 1000000.0, 0) AS BIGINT)"
)


def _pq_subcentroids(embeddings: DataFrame) -> DataFrame:
    """(j, c, scv) — sub-centroid ``c`` of subspace ``j`` is the j-th
    PQ_SUB-dim slice of seed vector ``c`` (the PQ_KSUB lowest vec_ids,
    the same deterministic-seed convention as :func:`ivf_assign`; a
    k-means-trained codebook would drop in without changing the
    dataflow)."""
    return _pq_subcentroids_from(
        embeddings.where(F.col("vec_id") < PQ_KSUB).select(
            F.col("vec_id").alias("c"), to_double_vec("embedding", "cv")
        )
    )


def _pq_subcentroids_from(seeds: DataFrame) -> DataFrame:
    """(j, c, scv) from an explicit (c, cv) seed relation — the
    composition point for codebooks derived from a sub-population
    (e.g. the existing corpus in incremental ingest)."""
    return seeds.select(
        "c",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"j -> slice(cv, j * {PQ_SUB} + 1, {PQ_SUB}))"
            )
        ).alias("j", "scv"),
    ).select("j", "c", "scv")


def _argmin_expr(cand_arr: str, d_expr: str, id_field: str, out_type: str) -> str:
    """SQL text: pick the lowest-distance candidate id from the sorted
    struct array ``cand_arr``. Candidates map to (d, c) structs FIRST,
    then a left fold keeps the strict minimum — each distance is
    computed exactly once (Catalyst does not CSE inside HOF lambdas,
    so a compare-then-rebuild CASE form would pay every improving
    step's distance twice). Ties take the FIRST candidate (arrays are
    sorted by id ascending; the fold replaces only on strictly
    smaller d). ``d_expr`` references the candidate as ``t``."""
    return (
        f"aggregate(transform({cand_arr}, "
        f"t -> named_struct('d', {d_expr}, 'c', CAST(t.{id_field} AS BIGINT))), "
        f"named_struct('d', CAST(9223372036854775807 AS BIGINT), "
        f"'c', CAST(-1 AS BIGINT)), "
        f"(acc, s) -> CASE WHEN s.d < acc.d THEN s ELSE acc END, "
        f"acc -> CAST(acc.c AS {out_type}))"
    )


def _pq_codes_expr() -> str:
    """SQL text for the PQ_M argmin codes of the vector in column
    ``cv`` against the folded codebook array in column ``cents``."""
    d_expr = _L2_MICRO.format(
        a=f"slice(cv, j * {PQ_SUB} + 1, {PQ_SUB})", b="t.scv"
    )
    inner = _argmin_expr("filter(cents, t -> t.j = j)", d_expr, "c", "INT")
    return f"transform(sequence(0, {PQ_M - 1}), j -> {inner})"


def _fold_codebook(subcent: DataFrame) -> DataFrame:
    """One-row (cents) relation: the whole PQ codebook as a sorted
    struct array, broadcast into the narrow encode projections."""
    return subcent.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("j", "c", "scv"))).alias("cents")
    )


def _adc_lut(queries: DataFrame, subcent: DataFrame) -> DataFrame:
    """(qid, lut) — per-query PQ_M × PQ_KSUB table of micro-int L2
    sub-distances as array<array<bigint>> (j-major, code-minor).
    queries × codebook rows only — always broadcast-sized."""
    qd = queries.crossJoin(F.broadcast(subcent)).select(
        "qid", "j", "c",
        F.expr(
            _L2_MICRO.format(a=f"slice(qv, j * {PQ_SUB} + 1, {PQ_SUB})", b="scv")
        ).alias("d"),
    )
    lutj = qd.groupBy("qid", "j").agg(
        F.expr("transform(array_sort(collect_list(struct(c, d))), s -> s.d)")
        .alias("tbl")
    )
    return lutj.groupBy("qid").agg(
        F.expr("transform(array_sort(collect_list(struct(j, tbl))), s -> s.tbl)")
        .alias("lut")
    )


#: ADC score of the codes in column ``codes`` against the per-query
#: table in column ``lut``: PQ_M integer lookups + an integer sum.
_ADC_SCORE = (
    f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS BIGINT), "
    f"(acc, j) -> acc + element_at(element_at(lut, j + 1), "
    f"element_at(codes, j + 1) + 1))"
)


def pq_encode(embeddings: DataFrame, subcent: DataFrame) -> DataFrame:
    """(vec_id, codes) — PQ encoding as a ZERO-SHUFFLE projection: the
    whole codebook (PQ_M·PQ_KSUB = 128 sub-centroids) folds into one
    broadcast single-row array, and each vector computes its PQ_M
    argmin codes inside one higher-order expression. This is the
    100 TB index-build shape — encoding is embarrassingly parallel and
    the corpus never moves (contrast: an explode+window encode would
    shuffle the full corpus PQ_M times over). Ties take the lowest
    sub-centroid id (see :func:`_argmin_expr`)."""
    return (
        _vecs(embeddings, "vec_id", "cv")
        .crossJoin(F.broadcast(_fold_codebook(subcent)))
        .select("vec_id", F.expr(_pq_codes_expr()).alias("codes"))
    )


def pq_adc_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """(qid, vec_id, score_micro, rank) — asymmetric-distance (ADC)
    nearest-neighbor search over PQ codes (Jégou et al. 2011): each
    query precomputes a PQ_M × PQ_KSUB lookup table of micro-int L2
    sub-distances to every sub-centroid (a tiny broadcast relation),
    and scoring a corpus vector is PQ_M integer table lookups plus an
    integer sum — no float math touches the corpus at query time, the
    codes are 16× smaller than the float vectors, and the corpus never
    shuffles (the one Exchange is the final per-query top-k window).
    Integer micro sums are order-exact, so the oracle recomputes them
    through a structurally different explode→join→groupBy."""
    subcent = _pq_subcentroids(embeddings)
    codes = pq_encode(embeddings, subcent)
    queries = _vecs(
        embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv"
    )
    lut = _adc_lut(queries, subcent)
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.expr(_ADC_SCORE).alias("score_micro"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("score_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def pq_search(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """(qid, vec_id, l2_micro, rank) — the full PQ serving pipeline:
    ADC shortlist of PQ_SHORTLIST candidates per query (compressed
    domain, corpus never shuffles), then EXACT re-rank of the
    shortlist against the full float vectors — the standard IVF-PQ
    refinement step that recovers the recall an untrained codebook
    loses. The re-rank side is a broadcast of ≤ queries×PQ_SHORTLIST
    ids joined back to the corpus scan (at 100 TB: one extra columnar
    pass with a broadcast semi-join, no shuffle of the corpus), so
    total cost stays linear and the heavy scoring stays integer ADC."""
    # rank <= PQ_SHORTLIST per query over <= NUM_QUERIES queries; the
    # limit declares that structural bound for the broadcast-policy lint
    # (kept: a rank filter has no literal '<' the lint parses, and the
    # shortlist is <= NUM_QUERIES*PQ_SHORTLIST narrow id pairs — the
    # single-partition exchange moves a few hundred rows)
    shortlist = (
        pq_adc_topk(embeddings, k=PQ_SHORTLIST)
        .select("qid", "vec_id")
        .limit(NUM_QUERIES * PQ_SHORTLIST)
    )
    corpus = _vecs(embeddings, "vec_id", "cv")
    queries = _vecs(
        embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv"
    )
    rerank = (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "qid", "vec_id",
            F.expr(_L2_MICRO.format(a="qv", b="cv")).alias("l2_micro"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("l2_micro"), F.asc("vec_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search end-to-end: deterministic codebook → zero-shuffle
    encode → integer ADC shortlist → exact re-rank top-k."""
    return pq_search(load_table(spark, sf_dir, "embeddings"))


ORACLES["q_ann_pq_topk"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    sub AS (
        SELECT vec_id, j,
               list_slice(cv, j * {PQ_SUB} + 1, j * {PQ_SUB} + {PQ_SUB}) AS subv
        FROM v, unnest(range(0, {PQ_M})) AS t(j)
    ),
    cent AS (
        SELECT j, vec_id AS c, subv AS scv FROM sub WHERE vec_id < {PQ_KSUB}
    ),
    dmat AS (
        SELECT s.vec_id, s.j, k.c,
               CAST(round(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                   i -> (s.subv[i] - k.scv[i]) * (s.subv[i] - k.scv[i])
               )) * 1000000.0, 0) AS BIGINT) AS d
        FROM sub s JOIN cent k USING (j)
    ),
    codes AS (
        SELECT vec_id, j, c FROM dmat
        QUALIFY row_number() OVER (
            PARTITION BY vec_id, j ORDER BY d ASC, c ASC) = 1
    ),
    scored AS (
        SELECT l.vec_id AS qid, cd.vec_id AS vec_id,
               CAST(sum(l.d) AS BIGINT) AS score_micro
        FROM codes cd
        JOIN dmat l ON l.j = cd.j AND l.c = cd.c
        WHERE l.vec_id < {NUM_QUERIES} AND cd.vec_id != l.vec_id
        GROUP BY l.vec_id, cd.vec_id
    ),
    shortlist AS (
        SELECT qid, vec_id FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY score_micro ASC, vec_id ASC
        ) <= {PQ_SHORTLIST}
    )
    SELECT s.qid, s.vec_id,
           CAST(round(list_sum(list_transform(range(1, {PQ_M * PQ_SUB} + 1),
               i -> (q.cv[i] - c.cv[i]) * (q.cv[i] - c.cv[i])
           )) * 1000000.0, 0) AS BIGINT) AS l2_micro,
           row_number() OVER (
               PARTITION BY s.qid
               ORDER BY CAST(round(list_sum(list_transform(
                            range(1, {PQ_M * PQ_SUB} + 1),
                            i -> (q.cv[i] - c.cv[i]) * (q.cv[i] - c.cv[i])
                        )) * 1000000.0, 0) AS BIGINT) ASC, s.vec_id ASC
           )::INT AS rank
    FROM shortlist s
    JOIN v c ON c.vec_id = s.vec_id
    JOIN v q ON q.vec_id = s.qid
    QUALIFY rank <= {TOP_K}
    ORDER BY qid, rank
"""


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted file + PQ codes, the FAISS-style composition
# ---------------------------------------------------------------------------


def ivfpq_index(embeddings: DataFrame, n_centroids: int = NUM_CENTROIDS) -> DataFrame:
    """(vec_id, centroid_id, codes) — the full IVF-PQ index built in
    ONE narrow projection: coarse assignment (min micro-int L2 against
    the broadcast coarse centroids, ties to the lowest centroid id)
    and the PQ codes computed side by side over the same scan. The
    corpus never shuffles during index build — the coarse centroids
    (n_centroids rows) and the PQ codebook (PQ_M·PQ_KSUB rows) each
    fold into a broadcast single-row array. At 100 TB this is one
    columnar pass; contrast the window-based :func:`ivf_assign`
    (kept for the cosine-IVF path) which pays a corpus-wide window."""
    corpus = _vecs(embeddings, "vec_id", "cv")
    coarse = (
        _vecs(
            embeddings.where(F.col("vec_id") < n_centroids), "cc", "ccv"
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("cc", "ccv"))).alias("coarse"))
    )
    assign = _argmin_expr(
        "coarse", _L2_MICRO.format(a="cv", b="t.ccv"), "cc", "BIGINT"
    )
    return (
        corpus.crossJoin(F.broadcast(coarse))
        .crossJoin(F.broadcast(_fold_codebook(_pq_subcentroids(embeddings))))
        .select(
            "vec_id",
            F.expr(assign).alias("centroid_id"),
            F.expr(_pq_codes_expr()).alias("codes"),
        )
    )


def ivfpq_search(
    embeddings: DataFrame,
    k: int = TOP_K,
    n_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
) -> DataFrame:
    """(qid, vec_id, l2_micro, rank) — the serving-scale ANN
    composition (IVF coarse pruning × PQ compressed-domain scoring ×
    exact re-rank), L2 end to end on the micro-int grid:

    1. each query probes its ``nprobe`` nearest coarse centroids
       (tiny relation, broadcast);
    2. ADC scores ONLY the probed buckets' members — integer LUT
       lookups over 4-bit codes, candidates cut ~n_centroids/nprobe
       and bytes cut 16× vs float;
    3. the PQ_SHORTLIST best ADC candidates per query re-rank against
       the full float vectors (exact, broadcast-join back to the scan).

    Corpus-side dataflow: scan → narrow index projection → broadcast
    hash join with probes → one top-k window. No corpus shuffle, no
    all-pairs anywhere."""
    idx = ivfpq_index(embeddings, n_centroids)
    corpus = _vecs(embeddings, "vec_id", "cv")
    queries = _vecs(
        embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv"
    )
    coarse = _vecs(
        embeddings.where(F.col("vec_id") < n_centroids),
        "cc",
        "ccv",
    )
    qprobe = queries.crossJoin(F.broadcast(coarse)).select(
        "qid",
        F.col("cc").alias("centroid_id"),
        F.expr(_L2_MICRO.format(a="qv", b="ccv")).alias("cd"),
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("cd"), F.asc("centroid_id"))
    probes = (
        qprobe.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("qid", "centroid_id")
        .limit(NUM_QUERIES * nprobe)
    )
    lut = _adc_lut(queries, _pq_subcentroids(embeddings))
    scored = (
        idx.join(F.broadcast(probes), "centroid_id")
        .where(F.col("qid") != F.col("vec_id"))
        .join(F.broadcast(lut), "qid")
        .select("qid", "vec_id", F.expr(_ADC_SCORE).alias("adc"))
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= PQ_SHORTLIST)
        .select("qid", "vec_id")
        .limit(NUM_QUERIES * PQ_SHORTLIST)
    )
    rerank = (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "qid", "vec_id",
            F.expr(_L2_MICRO.format(a="qv", b="cv")).alias("l2_micro"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("l2_micro"), F.asc("vec_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end to end: narrow index build → probe → integer ADC
    over probed buckets → exact re-rank."""
    return ivfpq_search(load_table(spark, sf_dir, "embeddings"))


#: incremental ingest: seed-id bounds chosen so the EXISTING-corpus
#: population (vec_id % 4 != 0) contributes exactly NUM_CENTROIDS
#: coarse seeds (ids < 11 minus 0,4,8) and PQ_KSUB sub-codebook seeds
#: (ids < 22 minus the six multiples of 4).
INC_COARSE_BOUND = 11
INC_SUB_BOUND = 22


def ivfpq_assign_batch(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, codes_str) — incremental IVF-PQ ingest:
    assign + encode a NEW batch against the FROZEN codebooks derived
    from the existing corpus. The index-maintenance property this
    demonstrates: ingest is the same narrow one-projection shape as
    the initial build — the existing index is never touched, never
    rescanned beyond the (tiny, broadcast) codebook seeds, and the
    batch never shuffles. Codes serialize to a comma-joined string so
    the relation is directly hashable by the differential gate."""
    coarse = (
        _vecs(
            corpus.where(F.col("vec_id") < INC_COARSE_BOUND), "cc", "ccv"
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("cc", "ccv"))).alias("coarse"))
    )
    subcent = _pq_subcentroids_from(
        corpus.where(F.col("vec_id") < INC_SUB_BOUND).select(
            F.col("vec_id").alias("c"), to_double_vec("embedding", "cv")
        )
    )
    assign = _argmin_expr(
        "coarse", _L2_MICRO.format(a="cv", b="t.ccv"), "cc", "BIGINT"
    )
    return (
        _vecs(batch, "vec_id", "cv")
        .crossJoin(F.broadcast(coarse))
        .crossJoin(F.broadcast(_fold_codebook(subcent)))
        .select(
            "vec_id",
            F.expr(assign).alias("centroid_id"),
            F.expr(f"concat_ws(',', {_pq_codes_expr()})").alias("codes_str"),
        )
    )


def q_ann_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ANN ingest gate: the incoming batch (vec_id % 4 ==
    0, the same split convention as [[q_dedup_incremental]]) is
    assigned and PQ-encoded against the existing corpus's frozen
    codebooks — one narrow pass over the batch only."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    # presentation sort belongs to the query wrapper, not the library
    # operator (whose ingest dataflow is genuinely shuffle-free).
    return ivfpq_assign_batch(corpus, batch).orderBy("vec_id")


ORACLES["q_ann_incremental_index"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    corpus AS (SELECT * FROM v WHERE vec_id % 4 != 0),
    batch AS (SELECT * FROM v WHERE vec_id % 4 = 0),
    coarse AS (
        SELECT vec_id AS cc, cv AS ccv FROM corpus
        WHERE vec_id < {INC_COARSE_BOUND}
    ),
    cent AS (
        SELECT j, vec_id AS c,
               list_slice(cv, j * {PQ_SUB} + 1, j * {PQ_SUB} + {PQ_SUB}) AS scv
        FROM corpus, unnest(range(0, {PQ_M})) AS t(j)
        WHERE vec_id < {INC_SUB_BOUND}
    ),
    bsub AS (
        SELECT vec_id, j,
               list_slice(cv, j * {PQ_SUB} + 1, j * {PQ_SUB} + {PQ_SUB}) AS subv
        FROM batch, unnest(range(0, {PQ_M})) AS t(j)
    ),
    assign AS (
        SELECT b.vec_id, k.cc AS centroid_id
        FROM batch b CROSS JOIN coarse k
        QUALIFY row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY {_L2_MICRO_SQL.format(n=PQ_M * PQ_SUB, a='b.cv', b='k.ccv')} ASC,
                     k.cc ASC
        ) = 1
    ),
    codes AS (
        SELECT s.vec_id, s.j, k.c FROM bsub s JOIN cent k USING (j)
        QUALIFY row_number() OVER (
            PARTITION BY s.vec_id, s.j
            ORDER BY {_L2_MICRO_SQL.format(n=PQ_SUB, a='s.subv', b='k.scv')} ASC,
                     k.c ASC
        ) = 1
    ),
    codes_agg AS (
        SELECT vec_id, string_agg(c::VARCHAR, ',' ORDER BY j) AS codes_str
        FROM codes GROUP BY vec_id
    )
    SELECT a.vec_id, a.centroid_id, g.codes_str
    FROM assign a JOIN codes_agg g USING (vec_id)
    ORDER BY a.vec_id
"""


def filtered_cosine_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """(qid, vec_id, cos_sim, rank) — FILTERED vector search: each
    query retrieves only within its own ``label`` partition (the
    tenant / collection / language constraint real vector serving
    always carries). The predicate IS the join key, so the plan is a
    broadcast HASH join on label — candidates drop to the partition
    fraction up front, strictly better than post-filtering a global
    top-k (which under-fills k) or scoring everything then discarding
    (which wastes the scan). At 100 TB with the corpus partitioned by
    label on disk this prunes whole partitions before scoring."""
    # module-wide null-absence convention (same rule as _vecs): a row
    # with a NULL embedding must not surface as a NULL-scored candidate
    # nor emit k all-NULL rows for a NULL-embedding query — the mirrored
    # oracles drop such rows, so the engine must too (ADVICE r6).
    embeddings = embeddings.where(F.col("embedding").isNotNull())
    cn = with_norm(
        embeddings.select(
            "vec_id", "label", to_double_vec("embedding", "cv")
        ),
        "cv",
        "ncv",
    )
    qn = with_norm(
        embeddings.where(F.col("vec_id") < NUM_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            to_double_vec("embedding", "qv"),
        ),
        "qv",
        "nqv",
    )
    scored = (
        cn.join(F.broadcast(qn), F.col("label") == F.col("qlabel"))
        .where(F.col("qid") != F.col("vec_id"))
        .select(
            "qid", "vec_id",
            _cos_pre("qv", "nqv", "cv", "ncv").alias("cos_sim"),
        )
    )
    return _topk_by_query(scored, k)


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-constrained cosine top-k (filtered ANN)."""
    return filtered_cosine_topk(load_table(spark, sf_dir, "embeddings"))


ORACLES["q_ann_filtered_topk"] = f"""
    SELECT q.vec_id AS qid, c.vec_id,
           {_COS.format(a='q.embedding', b='c.embedding')} AS cos_sim,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                        c.vec_id
           )::INT AS rank
    FROM embeddings q
    JOIN embeddings c ON c.label = q.label AND c.vec_id != q.vec_id
    WHERE q.vec_id < {NUM_QUERIES}
    QUALIFY rank <= {TOP_K}
    ORDER BY qid, rank
"""


ORACLES["q_ann_ivfpq_topk"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    sub AS (
        SELECT vec_id, j,
               list_slice(cv, j * {PQ_SUB} + 1, j * {PQ_SUB} + {PQ_SUB}) AS subv
        FROM v, unnest(range(0, {PQ_M})) AS t(j)
    ),
    cent AS (
        SELECT j, vec_id AS c, subv AS scv FROM sub WHERE vec_id < {PQ_KSUB}
    ),
    coarse AS (
        SELECT vec_id AS cc, cv AS ccv FROM v WHERE vec_id < {NUM_CENTROIDS}
    ),
    assign AS (
        SELECT x.vec_id, k.cc AS centroid_id
        FROM v x CROSS JOIN coarse k
        QUALIFY row_number() OVER (
            PARTITION BY x.vec_id
            ORDER BY {_L2_MICRO_SQL.format(n=PQ_M * PQ_SUB, a='x.cv', b='k.ccv')} ASC,
                     k.cc ASC
        ) = 1
    ),
    dmat AS (
        SELECT s.vec_id, s.j, k.c,
               {_L2_MICRO_SQL.format(n=PQ_SUB, a='s.subv', b='k.scv')} AS d
        FROM sub s JOIN cent k USING (j)
    ),
    codes AS (
        SELECT vec_id, j, c FROM dmat
        QUALIFY row_number() OVER (
            PARTITION BY vec_id, j ORDER BY d ASC, c ASC) = 1
    ),
    probes AS (
        SELECT q.vec_id AS qid, k.cc AS centroid_id
        FROM v q CROSS JOIN coarse k
        WHERE q.vec_id < {NUM_QUERIES}
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY {_L2_MICRO_SQL.format(n=PQ_M * PQ_SUB, a='q.cv', b='k.ccv')} ASC,
                     k.cc ASC
        ) <= {NPROBE}
    ),
    scored AS (
        SELECT p.qid, a.vec_id, CAST(sum(l.d) AS BIGINT) AS adc
        FROM probes p
        JOIN assign a USING (centroid_id)
        JOIN codes cd ON cd.vec_id = a.vec_id
        JOIN dmat l ON l.vec_id = p.qid AND l.j = cd.j AND l.c = cd.c
        WHERE a.vec_id != p.qid
        GROUP BY p.qid, a.vec_id
    ),
    shortlist AS (
        SELECT qid, vec_id FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY adc ASC, vec_id ASC
        ) <= {PQ_SHORTLIST}
    )
    SELECT s.qid, s.vec_id,
           {_L2_MICRO_SQL.format(n=PQ_M * PQ_SUB, a='q.cv', b='c.cv')} AS l2_micro,
           row_number() OVER (
               PARTITION BY s.qid
               ORDER BY {_L2_MICRO_SQL.format(n=PQ_M * PQ_SUB, a='q.cv', b='c.cv')} ASC,
                        s.vec_id ASC
           )::INT AS rank
    FROM shortlist s
    JOIN v c ON c.vec_id = s.vec_id
    JOIN v q ON q.vec_id = s.qid
    QUALIFY rank <= {TOP_K}
    ORDER BY qid, rank
"""


QUERIES = {
    "q_ann_brute_topk": q_ann_brute_topk,
    "q_ann_brute_arrow": q_ann_brute_arrow,
    "q_ann_ivf_assign": q_ann_ivf_assign,
    "q_ann_ivf_topk": q_ann_ivf_topk,
    "q_ann_ivf_refined_topk": q_ann_ivf_refined_topk,
    "q_ann_kmeans_assign": q_ann_kmeans_assign,
    "q_embed_centroid": q_embed_centroid,
    "q_vector_stats": q_vector_stats,
    "q_embed_quantize": q_embed_quantize,
    "q_ann_quantized_topk": q_ann_quantized_topk,
    "q_ann_pq_topk": q_ann_pq_topk,
    "q_ann_ivfpq_topk": q_ann_ivfpq_topk,
    "q_ann_filtered_topk": q_ann_filtered_topk,
    "q_ann_incremental_index": q_ann_incremental_index,
}

BENCH = [
    "q_ann_brute_topk",
    "q_ann_brute_arrow",
    "q_ann_ivf_topk",
    "q_embed_quantize",
    "q_ann_quantized_topk",
    # PQ-ADC — zero-shuffle encode + integer LUT scoring
    "q_ann_pq_topk",
]



# ---------------------------------------------------------------------------
# kNN-join classification
# ---------------------------------------------------------------------------

KNN_K = 5


def knn_classify(
    corpus: DataFrame, queries: DataFrame, labels: DataFrame, k: int = KNN_K
) -> DataFrame:
    """(qid, pred_label, n_votes) — k-nearest-neighbor majority-vote
    classification: each query's top-``k`` cosine neighbors in the
    labeled corpus vote; the winning label is the vote-count argmax,
    tie-broken toward the smaller label id (deterministic).

    The standard embedding-space labeling pass of a training-data
    pipeline (weak labeling / label propagation onto unlabeled
    documents). Scale shape: the scoring is :func:`cosine_topk`'s plan
    — broadcast queries, linear corpus scan, per-query window — so it
    is linear in corpus at fixed query count but scores EVERYTHING;
    the declared :func:`q_knn_classify` uses the IVF scorer instead
    (probe ``nprobe`` buckets per query), which is the shape that
    survives a growing corpus. The vote stage (:func:`knn_vote`) is
    shared."""
    return knn_vote(cosine_topk(corpus, queries, k), labels)


def knn_vote(hits: DataFrame, labels: DataFrame) -> DataFrame:
    """(qid, pred_label, n_votes) — majority vote over a scored
    neighbor relation (qid, vec_id, ...): joins each neighbor to its
    label, counts votes, argmax with ties toward the smaller label.
    A ≤ q·k-row aggregate — negligible next to any scorer."""
    hits = hits.join(labels, "vec_id")
    votes = hits.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    w = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"), "n_votes")
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify the NUM_QUERIES held-out vectors against the labeled
    rest of the corpus; output the prediction next to the true label.

    EXACT scorer — a classifier's declared semantics should be the
    exact k neighbors, and since r7 the brute scan is scale-safe: the
    r6 audit's 5.9× growth at 4× data came from the top-k window
    sorting the corpus-sized candidate set in NUM_QUERIES tasks, which
    :func:`_topk_by_query`'s salted two-phase ranking now spreads
    across the cluster. The serving-scale APPROXIMATE swap is declared
    separately as :func:`q_knn_classify_ivf` (the fixture's embeddings
    are near-uniform, so IVF recall there is fixture-poor — the exact
    path stays the flagship)."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    held_out = embeddings.where(F.col("vec_id") < NUM_QUERIES)
    rest = embeddings.where(F.col("vec_id") >= NUM_QUERIES)
    corpus = _vecs(rest, "vec_id", "cv")
    queries = _vecs(held_out, "qid", "qv")
    labels = rest.select("vec_id", "label")
    truth = held_out.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    return (
        knn_classify(corpus, queries, labels)
        .join(truth, "qid")
        .select("qid", "true_label", "pred_label", "n_votes")
        .orderBy("qid")
    )


ORACLES["q_knn_classify"] = f"""
    WITH hits AS (
        SELECT q.vec_id AS qid, c.label,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id
               ) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id >= {NUM_QUERIES}
        WHERE q.vec_id < {NUM_QUERIES}
        QUALIFY rank <= {KNN_K}
    ),
    votes AS (
        SELECT qid, label, count(1)::BIGINT AS n_votes FROM hits GROUP BY 1, 2
    ),
    win AS (
        SELECT qid, label AS pred_label, n_votes FROM votes
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY n_votes DESC, label) = 1
    )
    SELECT w.qid, q.label AS true_label, w.pred_label, w.n_votes
    FROM win w JOIN embeddings q ON q.vec_id = w.qid
    ORDER BY w.qid
"""


def q_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-scale kNN-classify swap: the IVF probe scores only
    ~nprobe/NUM_CENTROIDS of the corpus per query (seed centroids =
    the NUM_CENTROIDS lowest corpus vec_ids), then the same majority
    vote. Approximate BY DESIGN — the oracle mirrors the probe CTEs
    exactly, so correctness is exact-to-declared-semantics, while
    test_knn_ivf_agreement records the fixture's prediction agreement
    vs the exact scorer (near-uniform fixture embeddings make IVF
    recall fixture-poor; on clustered real corpora the probed buckets
    capture the true neighborhood)."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    held_out = embeddings.where(F.col("vec_id") < NUM_QUERIES)
    rest = embeddings.where(F.col("vec_id") >= NUM_QUERIES)
    seeds = _vecs(
        rest.where(F.col("vec_id") < NUM_QUERIES + NUM_CENTROIDS).limit(NUM_CENTROIDS),
        "centroid_id",
        "qv",
    )
    queries = _vecs(held_out, "qid", "qv")
    hits = ivf_search_with_centroids(rest, queries, seeds, k=KNN_K)
    labels = rest.select("vec_id", "label")
    truth = held_out.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    return (
        knn_vote(hits, labels)
        .join(truth, "qid")
        .select("qid", "true_label", "pred_label", "n_votes")
        .orderBy("qid")
    )


ORACLES["q_knn_classify_ivf"] = f"""
    WITH rest AS MATERIALIZED (
        SELECT * FROM embeddings WHERE vec_id >= {NUM_QUERIES}
    ),
    seeds AS MATERIALIZED (
        SELECT * FROM embeddings
        WHERE vec_id >= {NUM_QUERIES}
          AND vec_id < {NUM_QUERIES + NUM_CENTROIDS}
    ),
    held AS MATERIALIZED (
        SELECT * FROM embeddings WHERE vec_id < {NUM_QUERIES}
    ),
    -- MATERIALIZED is load-bearing: DuckDB v1.0.0 evaluates
    -- list_cosine_similarity below the mirrored IS-NOT-NULL filter
    -- when these inputs are inlined into the CROSS JOINs (the function
    -- hard-errors on NULL input instead of returning NULL, and even a
    -- CASE guard does not short-circuit it); materializing the
    -- null-filtered inputs pins the evaluation order
    scored_assign AS (
        SELECT c.vec_id, k.vec_id AS centroid_id,
               {_COS.format(a='k.embedding', b='c.embedding')} AS cos_sim
        FROM rest c CROSS JOIN seeds k
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM scored_assign
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id) = 1
    ),
    probes AS (
        SELECT q.vec_id AS qid, k.vec_id AS centroid_id
        FROM held q CROSS JOIN seeds k
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY {_COS.format(a='q.embedding', b='k.embedding')} DESC, k.vec_id
        ) <= {NPROBE}
    ),
    hits AS (
        SELECT p.qid, c.label,
               row_number() OVER (
                   PARTITION BY p.qid
                   ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id
               ) AS rank
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN rest c ON c.vec_id = a.vec_id AND c.vec_id != p.qid
        JOIN held q ON q.vec_id = p.qid
        QUALIFY rank <= {KNN_K}
    ),
    votes AS (
        SELECT qid, label, count(1)::BIGINT AS n_votes FROM hits GROUP BY 1, 2
    ),
    win AS (
        SELECT qid, label AS pred_label, n_votes FROM votes
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY n_votes DESC, label) = 1
    )
    SELECT w.qid, q.label AS true_label, w.pred_label, w.n_votes
    FROM win w JOIN embeddings q ON q.vec_id = w.qid
    ORDER BY w.qid
"""

QUERIES["q_knn_classify"] = q_knn_classify
BENCH.append("q_knn_classify")
QUERIES["q_knn_classify_ivf"] = q_knn_classify_ivf
BENCH.append("q_knn_classify_ivf")


# ---------------------------------------------------------------------------
# Distributed covariance — the PCA/whitening precursor
# ---------------------------------------------------------------------------

EMBED_COV_DIM = 64


#: quantization grid for the covariance input: embeddings snap to
#: multiples of 2^-20 (~1e-6) via floor BEFORE any arithmetic. This is
#: the tie-free determinism device: double→DECIMAL(38,12) casts of raw
#: float products can land exactly on a rounding tie (a float product
#: that is an odd multiple of 2^-13 ties at the 12th decimal), and
#: Spark (half-up) and DuckDB resolve ties differently — measured: one
#: dimension of the sf0.01 fixture diverged by 1e-12. floor() is exact
#: and tie-free in both engines, and on the grid every sum is pure
#: INTEGER arithmetic (scaled by 2^20/2^40) with no rounding anywhere.
EMBED_COV_SHIFT = 1 << 20


def embedding_covariance(
    embeddings: DataFrame, dim: int = EMBED_COV_DIM, impl: str = "arrow"
) -> DataFrame:
    """(i, j, cov) — upper-triangle covariance of the (2^-20-quantized)
    embedding matrix (1-based dims), the statistic every PCA /
    whitening / decorrelation stage starts from.

    Plan shape — the distributed-matmul partial-aggregate, expressed in
    JVM expressions: each row expands NARROWLY into its d(d+1)/2 upper-
    triangle products (one ``transform``+``flatten``+``explode``, no
    join, no UDF), and the single shuffle is the (i, j) hash aggregate,
    which Spark partial-aggregates map-side — so only
    ``cells × partitions`` rows cross the wire regardless of corpus
    size, the same communication bound as an X^T·X block matmul.
    Quantized values are BIGINTs (grid 2^-20, products on grid 2^-40,
    see EMBED_COV_SHIFT), summed as exact DECIMAL(38,0) integers —
    order-independent and identical on any partitioning — and the final
    ``(sxy − sx·sy/n)/n`` runs in double through the same IEEE sequence
    on both engines (descaling divides by powers of two: exact).
    Per-dimension sums ride the same explode and join back as a
    broadcast (d rows).

    Two interchangeable partial-sum producers feed the same (i, j)
    aggregate — pinned bit-identical by
    ``tests/test_similarity.py::test_covariance_impls_identical``:

    - ``impl="arrow"`` (default): Arrow-batched numpy X^T·X per batch
      over the ALREADY-QUANTIZED BIGINT vectors (the JVM does the
      float→grid floor; Python touches only exact int64s — per-batch
      sums bound at 2^40·10⁴ ≈ 2^53, inside int64). One 64×64 integer
      matmul per 10k-row batch replaces ~21M per-row struct
      constructions; measured ~7× on the sf0.1 steady bench. The
      shuffle carries cells × batches rows — the identical
      communication bound.
    - ``impl="expr"``: the pure-JVM narrow explode (kept as the
      zero-Python fallback and the A/B witness)."""
    if impl not in ("arrow", "expr"):
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")

    s = EMBED_COV_SHIFT
    # NULL embeddings are absent from the statistic (SQL aggregate
    # semantics) — and would crash the numpy stack either way.
    v = embeddings.where(F.col("embedding").isNotNull()).select(
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {s}) AS BIGINT))"
        ).alias("v")
    )
    if impl == "arrow":

        def partials(batches):
            import numpy as np
            import pandas as pd

            iu, ju = np.triu_indices(dim)
            out_i = np.concatenate([np.arange(1, dim + 1), iu + 1]).astype("int32")
            out_j = np.concatenate([np.zeros(dim, dtype=np.int64), ju + 1]).astype(
                "int32"
            )
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype(np.int64, copy=False)
                gram = V.T @ V  # int64 matmul — exact (never BLAS floats)
                p = np.concatenate([V.sum(axis=0), gram[iu, ju]])
                yield pd.DataFrame(
                    {
                        "i": out_i,
                        "j": out_j,
                        "p": p,
                        "cnt": np.full(len(out_i), len(V), dtype=np.int64),
                    }
                )

        rows = v.mapInPandas(partials, "i INT, j INT, p LONG, cnt LONG")
    else:
        # each row emits its d(d+1)/2 upper-triangle products PLUS one
        # marker cell (i, 0) carrying the linear term x_i, so the
        # product sums and the per-dimension sums ride the SAME single
        # corpus pass and the same shuffle — without the marker rows
        # the per-dim sums would re-scan the corpus (the naive plan
        # scans it three times).
        tri = (
            "flatten(transform(sequence(1, {d}), i -> concat("
            "array(struct(i AS i, 0 AS j, element_at(v, i) AS p)), "
            "transform(sequence(i, {d}), j -> "
            "struct(i AS i, j AS j, element_at(v, i) * element_at(v, j) AS p)))))"
        ).format(d=dim)
        rows = v.select(F.explode(F.expr(tri)).alias("c")).select(
            F.col("c.i").cast("int").alias("i"),
            F.col("c.j").cast("int").alias("j"),
            F.col("c.p").alias("p"),
            F.lit(1).cast("long").alias("cnt"),
        )
    sums = retain(
        rows.groupBy("i", "j")
        .agg(
            F.sum(F.col("p").cast("decimal(38,0)")).cast("string").cast("double").alias("s_i"),
            F.sum("cnt").alias("n"),
        )
    )
    cells = sums.where(F.col("j") >= 1).select("i", "j", F.col("s_i").alias("sxy_i"), "n")
    # exactly one marker row per dimension — limit(dim) declares the
    # structural bound for the broadcast-policy lint
    dims = (
        sums.where(F.col("j") == 0)
        .select(F.col("i").alias("d"), F.col("s_i").alias("sx_i"))
        .limit(dim)
    )
    sxy = F.col("sxy_i") / float(s * s)
    sxi = F.col("sxi_i") / float(s)
    sxj = F.col("sxj_i") / float(s)
    return (
        cells.join(F.broadcast(dims.select(F.col("d").alias("i"), F.col("sx_i").alias("sxi_i"))), "i")
        .join(F.broadcast(dims.select(F.col("d").alias("j"), F.col("sx_i").alias("sxj_i"))), "j")
        .select(
            "i",
            "j",
            ((sxy - sxi * sxj / F.col("n")) / F.col("n")).alias("cov"),
        )
    )


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb).orderBy("i", "j")


ORACLES["q_embed_covariance"] = f"""
    WITH v AS (
        SELECT list_transform(embedding::DOUBLE[],
                              x -> CAST(floor(x * {EMBED_COV_SHIFT}) AS BIGINT)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT i.i::INT AS i, j.j::INT AS j,
               CAST(CAST(sum(CAST(v.v[i.i] * v.v[j.j] AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy_i,
               count(1) AS n
        FROM v,
             (SELECT unnest(generate_series(1, {EMBED_COV_DIM})) AS i) i,
             (SELECT unnest(generate_series(1, {EMBED_COV_DIM})) AS j) j
        WHERE i.i <= j.j
        GROUP BY i.i, j.j
    ),
    dims AS (
        SELECT d.d::INT AS d,
               CAST(CAST(sum(CAST(v.v[d.d] AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_i
        FROM v, (SELECT unnest(generate_series(1, {EMBED_COV_DIM})) AS d) d
        GROUP BY d.d
    )
    SELECT c.i, c.j,
           (c.sxy_i / {float(EMBED_COV_SHIFT) ** 2}
            - (di.sx_i / {float(EMBED_COV_SHIFT)}) * (dj.sx_i / {float(EMBED_COV_SHIFT)}) / c.n
           ) / c.n AS cov
    FROM cells c
    JOIN dims di ON di.d = c.i
    JOIN dims dj ON dj.d = c.j
    ORDER BY c.i, c.j
"""
QUERIES["q_embed_covariance"] = q_embed_covariance
BENCH.append("q_embed_covariance")


# ---------------------------------------------------------------------------
# PCA top component via power iteration + corpus projection
# ---------------------------------------------------------------------------

PCA_ROUNDS = 3
#: quantization grid for the iteration MATRIX (2^-30): finer than the
#: vector grid because matvec products cq·vq must stay ≤ 2^52 per term
#: (|c| ≤ 4 → cq ≤ 2^32, |v| ≤ 1 → vq ≤ 2^20).
PCA_MAT_SHIFT = 1 << 30


def pca_power_projection(
    embeddings: DataFrame, dim: int = EMBED_COV_DIM, rounds: int = PCA_ROUNDS
) -> DataFrame:
    """(vec_id, score) — every vector's coordinate along the corpus's
    dominant principal component: the embedding-quality / outlier /
    drift diagnostic a curation pipeline runs after covariance.

    Three stages, each in its scale-correct shape:
    1. covariance — the distributed X^T·X partial-aggregate
       ([[embedding_covariance]]: one corpus pass, one shuffle);
    2. power iteration — ``rounds`` unrolled steps of
       v ← normalize(C·v) on the d×d matrix — FIXED-SIZE algorithm
       state independent of corpus size, iterated in exact integer
       arithmetic;
    3. projection — one narrow explode + broadcast join of the d-row
       component + per-doc exact integer dot sum.

    Determinism — fully TIE-FREE integer-grid arithmetic (see the
    covariance notes: double→decimal casts of products can land on
    rounding ties the engines resolve differently, so no decimal cast
    appears anywhere in this pipeline):
    - matrix cells quantize to the 2^-30 grid (``floor``, exact and
      tie-free in every engine), iteration vectors to the 2^-20 grid;
    - every cross-term sum is pure BIGINT arithmetic (bounds: matvec
      terms ≤ 2^52, sums ≤ 2^58 — exact in Python ints and DuckDB
      HUGEINT), converted to double through an exact integer STRING
      (correctly-rounded parse on both sides) and descaled by powers
      of two (exact);
    - the norm and division run the same IEEE double sequence, and
      the result immediately re-quantizes via ``floor``.
    v₀ = 1/8 exactly on the 2^-20 grid (‖v₀‖ = 1 at d = 64).

    The iteration itself runs on the DRIVER over the collected d²-cell
    matrix — bounded algorithm state, not corpus data (the same
    placement MLlib's iterative algorithms use for centroids): an
    all-relational iteration re-materializes every prior round's
    lineage per broadcast, turning 3 rounds of 64-row math into ~10 s
    of job scheduling. Python's int/float ops mirror the oracle's
    unrolled CTEs exactly."""
    import math

    spark = embeddings.sparkSession
    cov = embedding_covariance(embeddings, dim)
    cells = {(r.i, r.j): r.cov for r in cov.collect()}  # d(d+1)/2 values
    if not cells:
        # empty corpus: no covariance, no component — typed empty result
        return spark.createDataFrame([], "vec_id bigint, score double")

    cs, vs = PCA_MAT_SHIFT, EMBED_COV_SHIFT

    def c_at(i: int, j: int) -> float:
        return cells[(i, j)] if i <= j else cells[(j, i)]

    cq = {
        (i, j): math.floor(c_at(i, j) * cs)
        for i in range(1, dim + 1)
        for j in range(1, dim + 1)
    }
    vq = [math.floor(0.125 * vs)] * dim  # exact: 2^-3 on the 2^-20 grid
    for _ in range(rounds):
        sums = [
            sum(cq[(i, j + 1)] * vq[j] for j in range(dim))
            for i in range(1, dim + 1)
        ]
        w = [float(str(x)) / float(cs * vs) for x in sums]
        qn = [math.floor(x * vs) for x in w]
        nrm = math.sqrt(float(sum(q * q for q in qn)) / float(vs * vs))
        vq = [math.floor((x / nrm) * vs) for x in w]

    vrel = spark.createDataFrame(
        [(j + 1, vq[j]) for j in range(dim)], "j int, vq long"
    )
    ex = (
        embeddings.select(
            "vec_id",
            F.posexplode(
                F.expr(
                    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {vs}) AS BIGINT))"
                )
            ).alias("d0", "xi"),
        )
        .select("vec_id", (F.col("d0") + 1).cast("int").alias("j"), "xi")
    )
    # per-doc dot on the integer grid: terms ≤ 2^41, d-term sums ≤ 2^47
    # — exact in BIGINT and exactly double-convertible (< 2^53).
    return (
        ex.join(F.broadcast(vrel), "j")
        .groupBy("vec_id")
        .agg(
            (F.sum(F.col("xi") * F.col("vq")).cast("double") / float(vs * vs)).alias("score")
        )
    )


def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_projection(emb).orderBy("vec_id")


def _pca_round_sql(prev: str, rnd: int) -> str:
    return f"""
    w{rnd} AS (
        SELECT m.i AS j,
               CAST(CAST(sum(m.cq * v.vq) AS VARCHAR) AS DOUBLE)
                   / {float(PCA_MAT_SHIFT * EMBED_COV_SHIFT)} AS w
        FROM cq m JOIN {prev} v ON v.j = m.j
        GROUP BY m.i
    ),
    n{rnd} AS (
        SELECT sqrt(CAST(sum(q * q) AS DOUBLE) / {float(EMBED_COV_SHIFT) ** 2}) AS nrm
        FROM (SELECT CAST(floor(w * {EMBED_COV_SHIFT}) AS BIGINT) AS q FROM w{rnd})
    ),
    v{rnd} AS (
        SELECT j, CAST(floor((w / (SELECT nrm FROM n{rnd})) * {EMBED_COV_SHIFT}) AS BIGINT) AS vq
        FROM w{rnd}
    )"""


_PCA_ROUNDS_SQL = ",".join(
    _pca_round_sql("v0" if r == 1 else f"v{r - 1}", r) for r in range(1, PCA_ROUNDS + 1)
)

# mirror of the driver-side integer-grid iteration: matrix cells on the
# 2^-30 grid, vectors on the 2^-20 grid, every sum pure BIGINT (exact),
# integer→double via exact VARCHAR where the magnitude can pass 2^53,
# floor (tie-free) at every re-quantization. No decimal casts anywhere.
ORACLES["q_embed_pca_project"] = f"""
    WITH cov_cells AS ({ORACLES["q_embed_covariance"]}),
    full_m AS (
        SELECT i, j, cov AS c FROM cov_cells
        UNION ALL
        SELECT j AS i, i AS j, cov AS c FROM cov_cells WHERE i != j
    ),
    cq AS (
        SELECT i, j, CAST(floor(c * {PCA_MAT_SHIFT}) AS BIGINT) AS cq FROM full_m
    ),
    v0 AS (
        SELECT d.d::INT AS j,
               CAST(floor(0.125 * {EMBED_COV_SHIFT}) AS BIGINT) AS vq
        FROM (SELECT unnest(generate_series(1, {EMBED_COV_DIM})) AS d) d
    ),
    {_PCA_ROUNDS_SQL},
    ex AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1)::INT AS j,
               CAST(floor(unnest(embedding::DOUBLE[]) * {EMBED_COV_SHIFT}) AS BIGINT) AS xi
        FROM embeddings
    )
    SELECT e.vec_id,
           CAST(sum(e.xi * v.vq) AS DOUBLE) / {float(EMBED_COV_SHIFT) ** 2} AS score
    FROM ex e JOIN v{PCA_ROUNDS} v ON v.j = e.j
    GROUP BY e.vec_id
    ORDER BY e.vec_id
"""
QUERIES["q_embed_pca_project"] = q_embed_pca_project
BENCH.append("q_embed_pca_project")


# ---------------------------------------------------------------------------
# ANN recall evaluation — index-quality measurement as a query
# ---------------------------------------------------------------------------

def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, n_hits, recall) — per-query recall@k of the IVF-probed
    search against the exact brute-force top-k: the index-quality
    metric every ANN deployment tracks (probe counts get tuned against
    exactly this number). Declared as a QUERY so the measurement runs
    in-engine over the same relations, not as offline analysis.

    Scale shape: both branches are the already-declared bounded plans
    (query set broadcast, candidates blocked by the IVF buckets); the
    recall join keys on (qid, vec_id) over two ≤ q·k-row relations —
    negligible next to the searches themselves. Exact-integer division
    for the recall value; LEFT join from the per-qid k so a
    zero-overlap query still reports recall 0.0."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    corpus = _vecs(embeddings, "vec_id", "cv")
    queries = _vecs(embeddings.where(F.col("vec_id") < NUM_QUERIES), "qid", "qv")
    brute = cosine_topk(corpus, queries).select("qid", "vec_id")
    approx = ivf_search(embeddings, queries).select("qid", "vec_id")
    hits = (
        brute.join(approx, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    ks = brute.groupBy("qid").agg(F.count(F.lit(1)).alias("k_eff"))
    return (
        ks.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("k_eff").cast("double")
            ).alias("recall"),
        )
        .orderBy("qid")
    )


ORACLES["q_ann_recall_eval"] = f"""
    WITH brute AS ({ORACLES["q_ann_brute_topk"]}),
    approx AS ({ORACLES["q_ann_ivf_topk"]}),
    hits AS (
        SELECT b.qid, count(1) AS n_hits
        FROM brute b JOIN approx a ON a.qid = b.qid AND a.vec_id = b.vec_id
        GROUP BY b.qid
    ),
    ks AS (SELECT qid, count(1) AS k_eff FROM brute GROUP BY qid)
    SELECT k.qid, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           coalesce(h.n_hits, 0)::DOUBLE / k.k_eff::DOUBLE AS recall
    FROM ks k LEFT JOIN hits h ON h.qid = k.qid
    ORDER BY k.qid
"""
QUERIES["q_ann_recall_eval"] = q_ann_recall_eval
BENCH.append("q_ann_recall_eval")


def _mirror_null_absence_in_oracles() -> None:
    """The Spark side drops NULL-embedding rows at the shared seams
    (:func:`_vecs`, :func:`quantize_int8`, the covariance projection).
    Mirror the same convention in EVERY oracle of this module by
    replacing each ``embeddings`` table reference with a null-filtered
    subquery, so implementation and declared semantics agree on
    NULL-bearing data too — value-checked on the null-injected fixture
    by tests/test_null_inputs.py, and a textual no-op on the null-free
    driver fixtures."""
    import re

    sub = "(SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    for name, sql in list(ORACLES.items()):
        # a qualified reference (``embeddings.vec_id``) would rewrite to
        # an invalid ``(subquery).vec_id`` — fail loudly at import time
        # instead of silently corrupting the oracle (ADVICE r6). Module
        # SQL must alias the table and qualify through the alias.
        assert not re.search(r"\bembeddings\s*\.", sql), (
            f"oracle {name}: qualified 'embeddings.' reference would be "
            "corrupted by the null-absence mirror — alias the table"
        )
        new_sql, n = re.subn(r"\bembeddings\b", sub, sql)
        assert n > 0, (
            f"oracle {name}: no 'embeddings' reference found — the "
            "null-absence mirror did nothing; is it registered in the "
            "right module?"
        )
        ORACLES[name] = new_sql


_mirror_null_absence_in_oracles()

# Registration guard: any ORACLES entry added below this line (or from
# another module into this dict) would silently bypass the null-absence
# mirror. tests/test_registry_contract.py asserts the live key set still
# equals this frozen snapshot.
MIRRORED_ORACLE_NAMES = frozenset(ORACLES)
