"""Training-set assembly operators: split assignment, mixture
sampling, and sequence packing.

The last mile of a training-data pipeline, downstream of cleaning
(``text.py``), dedup (``dedup.py``) and sampling (``timeseries.py``):
decide which split each document belongs to, how much of each source
enters the mix, and how documents pack into fixed-size context
windows. All three must be **deterministic functions of content** —
re-running the pipeline (or running it on a different engine /
partitioning) must produce the identical dataset, or training runs are
not reproducible and eval splits silently leak. Hence everything here
derives from md5 of the stable key, never from RNG or row order
(same discipline as ``timeseries.hash_sample``).

Scale notes:
- Split + mixture are pure narrow filters/projections — they fuse into
  the scan stage, zero shuffle, trivially 100 TB-safe.
- Packing needs an order-sensitive running sum, which cannot be global
  at scale: a single unpartitioned window serializes the corpus
  through one task. We shard by a hash prefix and pack within shards
  — each shard is an independent stream of context windows (training
  consumers read shards independently anyway), and the window's
  Exchange spreads shards across executors. Bin boundaries are exact
  within a shard and never cross shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scope import retain
from ..tables import load_table

#: hex-string thresholds on the first 2 md5 chars (256 buckets):
#: bucket < 'e6' → train (~90%), < 'f3' → val (~5%), rest → test.
SPLIT_TRAIN_HEX = "e6"
SPLIT_VAL_HEX = "f3"

#: per-source keep-rate thresholds for the mixture, as 2-hex-char
#: ceilings (lexicographic compare — portable across engines, no
#: hex→int conversion needed). The fixture corpus has sources
#: src0..src19; rates cycle 25%/50%/75%/100% by suffix — low-quality
#: tiers downsampled hard, highest kept whole. The keep-all tier's
#: ceiling must sort ABOVE every hex bucket: "ff" would exclude the
#: 'ff' bucket itself (a silent ~0.4% drop from the 100% tier —
#: review r5), so it is "zz".
_RATE_CYCLE = ("40", "80", "c0", "zz")
MIXTURE_RATES = {f"src{i}": _RATE_CYCLE[i % 4] for i in range(20)}

CONTEXT_TOKENS = 2048
N_PACK_SHARDS = 16


def _md5_uint(key: str, n_hex: int):
    """First ``n_hex`` hex chars of md5(key) as a non-negative integer
    column — THE deterministic per-row coin this module's operators
    share (split/mixture/packing/resampling; review r11 deduplicated
    the three inline copies). conv / DuckDB's '0x'-cast give the same
    integer in both engines."""
    return F.conv(
        F.substring(F.md5(F.col(key).cast("string")), 1, n_hex), 16, 10
    ).cast("long")


def split_assign(df: DataFrame, key: str) -> DataFrame:
    """Add a deterministic ``split`` column (train/val/test) from the
    content hash of ``key`` — engine-, run- and partitioning-stable."""
    h2 = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(h2 < SPLIT_TRAIN_HEX, F.lit("train"))
        .when(h2 < SPLIT_VAL_HEX, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def mixture_filter(df: DataFrame, source_col: str, key: str) -> DataFrame:
    """Keep each row iff its hash bucket falls under its source's
    mixture rate — deterministic weighted downsampling by source
    (dataset mixing). Unknown sources are dropped."""
    h2 = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    rate = F.create_map(
        *[F.lit(x) for kv in MIXTURE_RATES.items() for x in kv]
    )[F.col(source_col)]
    return df.where(h2 < rate)


def pack_sequences(
    df: DataFrame,
    key: str,
    token_col: str,
    context: int = CONTEXT_TOKENS,
    shards: int = N_PACK_SHARDS,
) -> DataFrame:
    """Assign each document a (shard, bin) — contiguous-fill packing of
    hash-ordered documents into ``context``-token windows, independent
    per shard. A document starts a new bin when the running token count
    before it has crossed a window boundary (documents longer than
    ``context`` occupy ≥1 bin alone; the stream stays contiguous, the
    standard concat-then-chunk pretraining layout)."""
    h = F.md5(F.col(key).cast("string"))
    # shard = first-4-hex-chars integer mod ``shards`` — honors the
    # parameter (the earlier single-hex-char shard silently pinned the
    # count to 16 whatever the caller asked for; review r5). conv/
    # '0x'-cast give the same integer in both engines.
    sharded = df.select(
        F.col(key).alias("k"),
        F.col(token_col).alias("toks"),
        (_md5_uint(key, 4) % shards).cast("int").alias("shard"),
        h.alias("h"),
    )
    w = Window.partitionBy("shard").orderBy("h", "k")
    running = F.sum("toks").over(w) - F.col("toks")  # tokens before this doc
    # integer floor-div keeps bin ids exact even when a shard's running
    # token count exceeds double's 2^53 integer range (real at 100 TB)
    return sharded.select(
        "k",
        "shard",
        "toks",
        running.alias("__run"),
    ).select(
        "k", "shard", "toks", F.expr(f"__run DIV {context}").alias("bin")
    )


#: held-out benchmark designation: every BENCH_DOC_MOD-th doc plays the
#: eval set the training corpus must not leak (fixture stand-in for a
#: real benchmark suite).
BENCH_DOC_MOD = 25

#: mixture-planning inputs: total char budget for the mix and the
#: desired per-source weight (cycled over the fixture's 20 sources;
#: weights need not sum to 1 — each source is capped independently).
MIX_BUDGET_CHARS = 500_000
_WEIGHT_CYCLE = (0.02, 0.05, 0.08, 0.10)
MIXTURE_WEIGHTS = {f"src{i}": _WEIGHT_CYCLE[i % 4] for i in range(20)}


def plan_mixture(
    docs: DataFrame,
    weights: dict[str, float] = MIXTURE_WEIGHTS,
    budget_chars: int = MIX_BUDGET_CHARS,
) -> DataFrame:
    """(source, avail_chars, target_chars, rate) — the planning step
    that PRODUCES sampling rates for ``mixture_filter``: each source's
    target mass is ``budget × weight``, its rate the capped ratio
    against what the source actually has (oversubscribed sources keep
    everything, rate 1.0). Sources absent from the weight map are
    DROPPED — the same contract as :func:`mixture_filter`, whose rates
    this planner produces. One per-source aggregate over a column that
    lives in table stats at warehouse scale — the planner is a
    metadata query, which is why mixtures can be re-planned per run."""
    w = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )[F.col("source")]
    avail = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("avail_chars")
    )
    return (
        avail.withColumn("w", w)
        .where(F.col("w").isNotNull())
        .withColumn(
            "target_chars", F.lit(float(budget_chars)) * F.col("w")
        )
        .drop("w")
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.col("target_chars") / F.col("avail_chars").cast("double"),
            ),
        )
        .orderBy("source")
    )


def decontaminate(train_docs: DataFrame, benchmark_docs: DataFrame) -> DataFrame:
    """(doc_id, n_shared) — training documents that overlap the
    held-out benchmark by ≥1 word 3-gram, with the count of distinct
    shared shingles. The kept corpus is ``train_docs`` anti-joined on
    this relation; surfacing the contaminated side (rather than the
    survivors) is what an eval-leakage audit reads.

    Scale shape: the benchmark side is SMALL by definition (eval suites
    are a few million shingles at most), so AQE broadcast-hash-joins its
    distinct shingle set from measured size — the 100 TB training corpus
    is never shuffled before the contaminated-doc aggregate. No forced
    hint: the fixture derives the benchmark from a corpus SLICE (doc_id
    % MOD), which is SF-grown as written, and the broadcast policy
    reserves hints for structurally bounded relations. The train side's per-document
    shingle dedup is the NARROW ``array_distinct`` (inside the shingle
    array, before explode), not a corpus-wide ``.distinct()`` — the one
    real shuffle is the per-doc count aggregate keyed on contaminated
    doc_ids (a vanishing fraction of the corpus). The shingle relation
    IS dedup.shingle_sets' (exploded) — one definition of "overlap"
    shared with the near-dup pipeline, one place to change it (plan
    shape pinned in tests/test_plan_quality.py).
    """
    from .dedup import shingle_rel

    bench = shingle_rel(benchmark_docs).select("shingle").distinct()
    # shingle_rel is the shared (doc_id, shingle) relation — digest-free
    # by construction, where the earlier inline shingle_sets+explode
    # requested per-shingle md5s it immediately discarded.
    train_shingles = shingle_rel(train_docs)
    return (
        # bench shingles derive from a corpus slice (doc_id % MOD == 0) —
        # SF-grown as written, so unhinted per the broadcast policy; a
        # production benchmark is a fixed file and AQE BHJs it anyway
        train_shingles.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Declared queries + oracles
# ---------------------------------------------------------------------------

def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-size audit: per (source, split) document and token counts
    — the table you eyeball before any training run."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture audit: per-source kept-document counts under the
    configured mixing rates."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        mixture_filter(docs, "source", "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit: per-shard window counts and fill statistics
    (whitespace token proxy = n_chars/5, the plumbing is tokenizer-
    agnostic). Bins per shard ≈ shard tokens / context."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("n_chars DIV 5").alias("toks")
    )
    packed = pack_sequences(docs, "doc_id", "toks")
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("bin").alias("max_bin"),
            F.sum("toks").alias("total_toks"),
        )
        .orderBy("shard")
    )


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return plan_mixture(load_table(spark, sf_dir, "documents"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit: training docs (doc_id % MOD != 0) sharing
    any 3-gram with the benchmark docs (doc_id % MOD == 0)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % BENCH_DOC_MOD != 0)
    bench = docs.where(F.col("doc_id") % BENCH_DOC_MOD == 0)
    return decontaminate(train, bench).orderBy("doc_id")


ORACLES: dict[str, str] = {
    "q_mixture_plan": f"""
        WITH weights(source, w) AS (
            VALUES {", ".join(f"('{s_}', {w_})" for s_, w_ in MIXTURE_WEIGHTS.items())}
        )
        SELECT d.source, sum(d.n_chars)::BIGINT AS avail_chars,
               {float(MIX_BUDGET_CHARS)} * any_value(weights.w) AS target_chars,
               least(1.0, ({float(MIX_BUDGET_CHARS)} * any_value(weights.w))
                          / CAST(sum(d.n_chars) AS DOUBLE)) AS rate
        FROM documents d JOIN weights USING (source)
        GROUP BY d.source ORDER BY d.source
    """,
    # same distinct-shingle relation the dedup oracles use
    # (dedup._SHINGLES_CTE textual twin), split into bench/train sides.
    "q_decontaminate": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
            FROM (SELECT doc_id, w,
                         unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                  FROM words)
        ),
        bench AS (
            SELECT DISTINCT shingle FROM shingles
            WHERE doc_id % {BENCH_DOC_MOD} = 0
        )
        SELECT s.doc_id, count(1)::BIGINT AS n_shared
        FROM shingles s JOIN bench b USING (shingle)
        WHERE s.doc_id % {BENCH_DOC_MOD} != 0
        GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    "q_split_assign": f"""
        SELECT source,
               CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '{SPLIT_TRAIN_HEX}' THEN 'train'
                    WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '{SPLIT_VAL_HEX}' THEN 'val'
                    ELSE 'test' END AS split,
               count(1)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM documents GROUP BY source, split ORDER BY source, split
    """,
    "q_mixture_sample": f"""
        WITH rates(source, r) AS (
            VALUES {", ".join(f"('{s_}', '{r_}')" for s_, r_ in MIXTURE_RATES.items())}
        )
        SELECT d.source, count(1)::BIGINT AS n_kept,
               sum(d.n_chars)::BIGINT AS total_chars
        FROM documents d JOIN rates USING (source)
        WHERE substr(md5(d.doc_id::VARCHAR), 1, 2) < rates.r
        GROUP BY d.source ORDER BY d.source
    """,
    "q_pack_sequences": f"""
        WITH toks AS (
            SELECT doc_id, n_chars // 5 AS toks,
                   md5(doc_id::VARCHAR) AS h,
                   (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT
                       % {N_PACK_SHARDS})::INT AS shard
            FROM documents
        ),
        packed AS (
            SELECT shard, toks,
                   (sum(toks) OVER (
                        PARTITION BY shard ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) - toks)
                    // {CONTEXT_TOKENS} AS bin
            FROM toks
        )
        SELECT shard, count(1)::BIGINT AS n_docs,
               max(bin)::BIGINT AS max_bin,
               sum(toks)::BIGINT AS total_toks
        FROM packed GROUP BY shard ORDER BY shard
    """,
}

QUERIES = {
    "q_split_assign": q_split_assign,
    "q_mixture_sample": q_mixture_sample,
    "q_mixture_plan": q_mixture_plan,
    "q_pack_sequences": q_pack_sequences,
    "q_decontaminate": q_decontaminate,
}

BENCH = ["q_split_assign", "q_pack_sequences", "q_decontaminate"]


# ---------------------------------------------------------------------------
# weight-proportional deterministic sampling
# ---------------------------------------------------------------------------

#: target base rate for weighted sampling, as an exact fraction so the
#: keep decision is INTEGER math end-to-end (bit-identical on any
#: engine): keep iff RATE_DEN * u * max_w < 2^16 * RATE_NUM * w.
WEIGHTED_RATE_NUM = 1
WEIGHTED_RATE_DEN = 2


def weighted_hash_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    rate_num: int = WEIGHTED_RATE_NUM,
    rate_den: int = WEIGHTED_RATE_DEN,
) -> DataFrame:
    """Deterministic weight-proportional sampling: row kept with
    probability ``(rate_num/rate_den) * w / max(w)`` — importance
    sampling by a per-row weight (doc length, quality score), the
    upsample-the-good-stuff primitive of mixture building. The
    uniform draw is the row's content hash (first 4 md5 hex chars →
    16-bit integer), so the subset is identical on any engine, any
    partitioning, any run — same property as hash_sample/split_assign.

    The keep predicate is pure integer arithmetic (no float rate, no
    division): ``rate_den * u * max_w < 65536 * rate_num * w``. The
    global max weight rides in via a broadcast 1-row aggregate — a
    narrow scan + broadcast join at 100 TB, never a driver action.
    """
    u = _md5_uint(key, 4)
    max_w = df.select(F.max(weight_col).cast("long").alias("max_w"))
    return (
        df.crossJoin(F.broadcast(max_w))
        .where(
            F.lit(rate_den) * u * F.col("max_w")
            < F.lit(65536 * rate_num) * F.col(weight_col).cast("long")
        )
        .drop("max_w")
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source yield of length-weighted document sampling: longer
    docs kept proportionally more often at a 1/2 base rate."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        weighted_hash_sample(documents, "doc_id", "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
        .orderBy("source")
    )


_HEX4_DUCK = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    + ")"
)

ORACLES["q_sample_weighted"] = f"""
    WITH mw AS (SELECT max(n_chars)::BIGINT AS max_w FROM documents)
    SELECT source, count(1)::BIGINT AS n_kept,
           sum(n_chars)::BIGINT AS chars_kept
    FROM documents, mw
    WHERE {WEIGHTED_RATE_DEN} * {_HEX4_DUCK} * max_w
          < {65536 * WEIGHTED_RATE_NUM} * n_chars::BIGINT
    GROUP BY source ORDER BY source
"""

QUERIES["q_sample_weighted"] = q_sample_weighted
BENCH.append("q_sample_weighted")


# ---------------------------------------------------------------------------
# training-example assembly
# ---------------------------------------------------------------------------

def assemble_examples(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """(doc_id, n_words, quality_band, label, emb_norm, split) — the
    end-of-pipeline DATASET ASSEMBLY step: quality-filtered documents
    joined to their embedding row (doc_id = vec_id), carrying the
    curation features downstream trainers key on (quality band, label,
    embedding norm) plus the deterministic train/val/test split
    assignment. This is the query that turns the curation operators
    into a dataset: filter (quality) → join (modality alignment) →
    feature projection → split ([[q_split_assign]]'s md5 rule, so the
    assignment is engine-portable).

    Scale shape: both sides are keyed scans joined on the id (sort-merge
    or hash on one shuffle each — at warehouse scale both tables are
    bucketed on the id and the join is Exchange-free, the layout
    warehouse.write_bucketed provides); the quality features and norm
    are narrow projections; split assignment is a hash expression.
    Nothing here is driver-sized."""
    from .text import quality_features
    from ..functions.vectors import norm_expr

    quality = quality_features(documents).where(
        F.col("quality_band") != "low"
    )
    from ..functions.vectors import to_double_vec

    emb = embeddings.select(
        F.col("vec_id").alias("doc_id"),
        to_double_vec("embedding", "v"),
        "label",
    ).select(
        "doc_id", "label", F.round(F.expr(norm_expr("v")), 6).alias("emb_norm")
    )
    return split_assign(
        quality.join(emb, "doc_id").select(
            "doc_id", "n_words", "quality_band", "label", "emb_norm"
        ),
        "doc_id",
    )


def q_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    return assemble_examples(documents, embeddings).orderBy("doc_id")


# one definition of the stopword-array SQL fragment (text.py builds it
# from EN_STOPWORDS) — a second copy could drift from the quality-band
# oracle it must match.
from .text import _STOP_ARR as _STOP_ARR_TRAIN  # noqa: E402 - oracle fragment

ORACLES["q_training_examples"] = f"""
    WITH feats AS (
        SELECT doc_id,
               len(string_split(lower(trim(text)), ' '))::INT AS n_words,
               CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                        x -> list_contains([{_STOP_ARR_TRAIN}], x))) AS DOUBLE)
                   / len(string_split(lower(trim(text)), ' ')) AS stopword_ratio
        FROM documents
    ),
    quality AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words >= 40 AND stopword_ratio >= 0.05 THEN 'high'
                    WHEN n_words >= 15 THEN 'mid' ELSE 'low' END AS quality_band
        FROM feats
    )
    SELECT q.doc_id, q.n_words, q.quality_band, e.label,
           round(sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6)
               AS emb_norm,
           CASE WHEN substr(md5(q.doc_id::VARCHAR), 1, 2) < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substr(md5(q.doc_id::VARCHAR), 1, 2) < '{SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split
    FROM quality q JOIN embeddings e ON e.vec_id = q.doc_id
    WHERE q.quality_band != 'low'
    ORDER BY q.doc_id
"""

QUERIES["q_training_examples"] = q_training_examples
BENCH.append("q_training_examples")


# ---------------------------------------------------------------------------
# end-to-end corpus curation pipeline
# ---------------------------------------------------------------------------

def curate_corpus(documents: DataFrame) -> DataFrame:
    """(doc_id, split) — the C4-class curation pipeline END TO END as
    one declared plan: quality gate → exact dedup → LSH near-dup drop →
    deterministic split assignment. Each stage is the repo's own
    operator; the composition is what a user actually runs, and the
    whole chain carries ONE composed DuckDB oracle, so the interaction
    of the stages (not just each in isolation) sits inside the
    correctness gate.

    Stage semantics (all deterministic):
    1. quality: drop 'low' band docs ([[q_text_quality]]'s rule);
    2. exact: keep the min doc_id per normalized-text md5;
    3. near-dup: among survivors, any VERIFIED LSH pair (jaccard ≥
       threshold) drops the larger doc_id — single-pass
       keep-representative (pairs are already a<b);
    4. split: md5-hash rule ([[q_split_assign]]).

    Scale shape: each stage's shuffle is the operator's own documented
    one; stages communicate by doc_id joins (narrow keys, never
    bodies) and the LSH stage runs on the post-dedup survivor set —
    the ordering that minimizes the expensive stage's input, exactly
    how production curation pipelines sequence."""
    from .dedup import (
        JACCARD_THRESHOLD,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
        verify_candidates,
    )
    from .text import quality_features

    quality_ids = quality_features(documents).where(
        F.col("quality_band") != "low"
    ).select("doc_id")
    docs_q = documents.join(quality_ids, "doc_id")
    exact_keep = (
        docs_q.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = documents.join(exact_keep, "doc_id")
    sets = retain(shingle_sets(kept))
    pairs = verify_candidates(
        sets, lsh_candidate_pairs(minhash_signatures(sets)), JACCARD_THRESHOLD
    )
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # survivors come off the RETAINED sets relation (one row per kept
    # doc) — re-deriving them from `kept` would execute the quality
    # gate + exact-dedup subplan a second time over the corpus text.
    final = sets.select("doc_id").join(drop, "doc_id", "left_anti")
    return split_assign(final, "doc_id").select("doc_id", "split")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return curate_corpus(documents).orderBy("doc_id")


from .dedup import (  # noqa: E402 - oracle fragments
    _JACCARD_CORE as _DD_JACCARD_CORE,
    _MINHASH_COLS as _DD_MINHASH_COLS,
    _BAND_SELECTS as _DD_BAND_SELECTS,
    _SHINGLES_CTE as _DD_SHINGLES_CTE,
    JACCARD_THRESHOLD as _DD_JACCARD_THRESHOLD,
)

# the dedup shingle CTE verbatim, re-rooted at the curation survivors
_CURATION_SHINGLES = _DD_SHINGLES_CTE.replace("FROM documents", "FROM kept")

ORACLES["q_curation_pipeline"] = f"""
    WITH quality AS (
        -- the != 'low' gate reduces to n_words >= 15: 'high' demands
        -- n_words >= 40 (plus stopword ratio) and 'mid' n_words >= 15,
        -- so the stopword ratio never decides low-vs-rest.
        SELECT doc_id FROM (
            SELECT doc_id,
                   len(string_split(lower(trim(text)), ' '))::INT AS n_words
            FROM documents
        ) WHERE NOT (n_words < 15)
    ),
    exact_keep AS (
        SELECT min(d.doc_id) AS doc_id
        FROM documents d JOIN quality q ON d.doc_id = q.doc_id
        GROUP BY md5(lower(trim(d.text)))
    ),
    kept AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN exact_keep k ON d.doc_id = k.doc_id
    ),
    {_CURATION_SHINGLES},
    sig AS (
        SELECT doc_id, {_DD_MINHASH_COLS} FROM shingles GROUP BY doc_id
    ),
    bands AS ({_DD_BAND_SELECTS}),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
        WHERE x.doc_id < y.doc_id
    ),
    {_DD_JACCARD_CORE},
    dropped AS (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE)
              >= {_DD_JACCARD_THRESHOLD}
    )
    SELECT k.doc_id,
           CASE WHEN substr(md5(k.doc_id::VARCHAR), 1, 2) < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substr(md5(k.doc_id::VARCHAR), 1, 2) < '{SPLIT_VAL_HEX}' THEN 'val'
                ELSE 'test' END AS split
    FROM kept k
    -- NOT EXISTS per the anti-join lockstep rule (NOT IN's NULL
    -- semantics diverge from Spark's left_anti)
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = k.doc_id)
    ORDER BY k.doc_id
"""

QUERIES["q_curation_pipeline"] = q_curation_pipeline
BENCH.append("q_curation_pipeline")


#: per-source document cap — the web-curation "domain cap" pass
#: (Common-Crawl-style pipelines cap pages per domain so no single
#: template farm dominates the mixture). 20 keeps roughly the top
#: quarter of each fixture source's documents.
SOURCE_CAP = 20


def cap_per_source(documents: DataFrame, cap: int = SOURCE_CAP) -> DataFrame:
    """(doc_id, source, rk) — keep at most ``cap`` documents per source,
    retained in (n_chars DESC, doc_id) order: a deterministic
    quality-proxy ranking, NOT a random sample (the cap must keep the
    best of an over-represented source, where hash_sample would keep a
    uniform slice — both passes exist because they answer different
    questions).

    Scale: one window shuffle keyed on ``source``. Skewed sources are
    the norm (that is why the cap exists); rank ≤ cap needs only a
    per-partition running count after the sort, and with
    ``spark.sql.rankLimit`` semantics (or AQE skew split + re-rank)
    the per-source state is O(cap). No joins, no second pass."""
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        documents.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return cap_per_source(documents).orderBy("source", "rk")


ORACLES["q_source_caps"] = f"""
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
           )::INT AS rk
    FROM documents
    QUALIFY rk <= {SOURCE_CAP}
    ORDER BY source, rk
"""
QUERIES["q_source_caps"] = q_source_caps
BENCH.append("q_source_caps")


#: budget divisor: the selection keeps the best docs until
#: total_tokens div 4 tokens are spent (25% of the corpus).
BUDGET_DIV = 4
#: range partitions for the distributed prefix sum
BUDGET_PARTS = 16


def select_within_token_budget(spark, documents: DataFrame) -> DataFrame:
    """(doc_id, quality_band, n_words, cum_tokens) — greedy
    quality-first corpus selection under a token budget: take documents
    in (quality band, length, id) order until total_tokens div 4
    whitespace tokens are spent. The budget cut a pretraining run makes
    when compute, not data, is the binding constraint.

    The cumulative sum is the DISTRIBUTED PREFIX SUM, not a global
    single-partition window (which would serialize 100 TB through one
    reducer): ``repartitionByRange`` on the selection order gives
    order-aligned balanced partitions; each partition computes its own
    running and total sums in one window pass; the per-partition
    offsets — at most BUDGET_PARTS rows, bounded algorithm state — are
    cumulated on the driver and broadcast back; every row's global
    prefix is offset + local running sum. Results are INDEPENDENT of
    where the range boundaries land (the prefix over a total order
    does not depend on its partitioning), so the range sampler's
    boundary choice cannot perturb the output; the windowed relation is
    retained so the offsets action and the returned plan read ONE
    materialization of the shuffle.

    Ordering is all-integer — band rank, word count, doc id — so no
    float comparison can diverge between engines."""
    from .text import quality_features

    feats = quality_features(documents).select(
        "doc_id",
        # NULL-text docs hold zero tokens in the budget (they cannot
        # contribute training data) — and a NULL would poison the
        # driver-side offset accumulation.
        F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
        "quality_band",
        F.when(F.col("quality_band") == "high", 0)
        .when(F.col("quality_band") == "mid", 1)
        .otherwise(2)
        .alias("band_rank"),
    )
    order = [F.asc("band_rank"), F.desc("n_words"), F.asc("doc_id")]
    ranked = feats.repartitionByRange(BUDGET_PARTS, *order).withColumn(
        "pid", F.spark_partition_id()
    )
    w_run = (
        Window.partitionBy("pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slim = retain(
        ranked.select(
            "doc_id",
            "quality_band",
            "n_words",
            "band_rank",
            "pid",
            F.sum("n_words").over(w_run).alias("run"),
            F.sum("n_words").over(Window.partitionBy("pid")).alias("pid_total"),
        )
    )
    pid_totals = sorted(
        (r["pid"], r["pid_total"]) for r in slim.select("pid", "pid_total").distinct().collect()
    )
    offsets, acc = [], 0
    for pid, total in pid_totals:
        offsets.append((pid, acc))
        acc += total
    budget = acc // BUDGET_DIV
    off_df = spark.createDataFrame(offsets, "pid INT, off LONG")
    return (
        slim.join(F.broadcast(off_df), "pid")
        .where(F.col("off") + F.col("run") <= budget)
        .select(
            "doc_id",
            "quality_band",
            "n_words",
            (F.col("off") + F.col("run")).alias("cum_tokens"),
        )
        .orderBy("cum_tokens")
    )


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return select_within_token_budget(spark, documents)


ORACLES["q_budget_select"] = f"""
    WITH feats AS (
        SELECT doc_id,
               coalesce(len(string_split(lower(trim(text)), ' ')), 0)::INT AS n_words,
               CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                        x -> list_contains(['the', 'a', 'of', 'and', 'in', 'to', 'is'], x))) AS DOUBLE)
                   / len(string_split(lower(trim(text)), ' ')) AS stopword_ratio
        FROM documents
    ),
    banded AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words >= 40 AND stopword_ratio >= 0.05 THEN 'high'
                    WHEN n_words >= 15 THEN 'mid' ELSE 'low' END AS quality_band,
               CASE WHEN n_words >= 40 AND stopword_ratio >= 0.05 THEN 0
                    WHEN n_words >= 15 THEN 1 ELSE 2 END AS band_rank
        FROM feats
    ),
    run AS (
        SELECT doc_id, quality_band, n_words,
               sum(n_words) OVER (
                   ORDER BY band_rank, n_words DESC, doc_id
               )::BIGINT AS cum_tokens
        FROM banded
    )
    SELECT doc_id, quality_band, n_words, cum_tokens
    FROM run
    WHERE cum_tokens <= (SELECT sum(n_words) // {BUDGET_DIV} FROM feats)
    ORDER BY cum_tokens
"""
QUERIES["q_budget_select"] = q_budget_select


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split — duplicates co-assign by content
# ---------------------------------------------------------------------------

def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split) — train/val/test assignment hashed from the
    CONTENT fingerprint (sorted distinct word set) instead of the row
    id: every exact / reordered / re-multiplied copy of a document
    lands in the SAME split, closing the classic evaluation leak where
    an id-hashed split puts one copy of a duplicated doc in train and
    its twin in test (the contamination mode decontamination checks
    for AFTER the fact; this prevents it at assignment time).

    Same md5-prefix band rule as :func:`split_assign` (≈90/5/5), same
    narrow zero-shuffle shape — the fingerprint is a per-row
    expression, so at 100 TB this stays a single codegen'd scan
    projection plus the presentation sort."""
    from .dedup import wordset_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        split_assign(docs.withColumn("fp", wordset_fingerprint()), "fp")
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


ORACLES["q_split_leakage_safe"] = f"""
    WITH fp AS (
        SELECT doc_id,
               md5(md5(array_to_string(list_sort(list_distinct(
                   string_split(lower(trim(text)), ' '))), ' '))) AS h
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN substr(h, 1, 2) < '{'{'}SPLIT_TRAIN{'}'}' THEN 'train'
                WHEN substr(h, 1, 2) < '{'{'}SPLIT_VAL{'}'}' THEN 'val'
                ELSE 'test' END AS split
    FROM fp ORDER BY doc_id
""".replace("{SPLIT_TRAIN}", SPLIT_TRAIN_HEX).replace("{SPLIT_VAL}", SPLIT_VAL_HEX)
QUERIES["q_split_leakage_safe"] = q_split_leakage_safe


# ---------------------------------------------------------------------------
# per-source adaptive quality threshold — rank-quantile filtering
# ---------------------------------------------------------------------------

#: keep the top (1 - ADAPTIVE_CUT) fraction of each source by quality
ADAPTIVE_CUT = 0.4


def q_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_chars, pr, keep) — PER-SOURCE quality
    filtering with an adaptive threshold: each document's exact
    percent_rank within its source (by n_chars, doc_id-tie-broken)
    decides keep/drop, so a uniformly-low-quality source still
    contributes its best 60% instead of being wiped out by one global
    cutoff (and a high-quality source still sheds its worst 40%) —
    the per-domain thresholding curation pipelines apply because
    quality-score distributions differ wildly across feeds.

    Exact rank arithmetic ((rank-1)/(n-1), integers) — no interpolated
    percentiles, so both engines agree bit-for-bit. One shuffle keyed
    by source (the window), linear in corpus size; source cardinality
    is small, and a skewed mega-source AQE-splits on the sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn(
            "keep", (F.col("pr") >= F.lit(ADAPTIVE_CUT)).cast("int")
        )
        .orderBy("doc_id")
    )


ORACLES["q_adaptive_filter"] = f"""
    SELECT doc_id, source, n_chars,
           percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
           ) AS pr,
           (percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
           ) >= {ADAPTIVE_CUT})::INT AS keep
    FROM documents ORDER BY doc_id
"""
QUERIES["q_adaptive_filter"] = q_adaptive_filter


# ---------------------------------------------------------------------------
# DSIR importance-weighted data selection (hashed n-gram likelihood ratio)
# ---------------------------------------------------------------------------

#: hashed-feature space for the two bucket LMs — two md5 hex digits give
#: 0..255 directly, the same portable-hash idiom as retrieval's quality
#: model, at the dimension DSIR's hashed n-gram extractor typically uses
#: scaled down to the fixture vocabulary.
DSIR_BUCKETS = 256
#: the designated target distribution: a fixed source allowlist standing
#: in for DSIR's high-quality target corpus (e.g. Wikipedia+books).
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
#: greedy selection size (the deterministic top-k variant of DSIR's
#: importance RESAMPLING — rank by weight instead of sampling ∝ weight,
#: so the oracle is exactly mirrorable).
DSIR_KEEP_N = 100


def _dsir_bucket(term: str, engine: str) -> str:
    """md5-derived feature bucket 0..255 (two leading hex digits),
    portable across Spark and DuckDB via instr/strpos on the hex
    alphabet — the same trick as retrieval._bucket_sql at dim 256."""
    pos = "instr" if engine == "spark" else "strpos"
    d1 = f"({pos}('0123456789abcdef', substr(md5({term}), 1, 1)) - 1)"
    d2 = f"({pos}('0123456789abcdef', substr(md5({term}), 2, 1)) - 1)"
    return f"(({d1}) * 16 + ({d2}))"


def dsir_select(documents: DataFrame, keep_n: int = DSIR_KEEP_N) -> DataFrame:
    """(doc_id, source, n_tokens, avg_lw) — the ``keep_n`` documents a
    DSIR pass (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling") selects from the raw corpus: per document,
    the mean hashed-unigram log importance weight

        log w(x) = Σ_tokens [ ln p_target(bucket) − ln p_raw(bucket) ]

    under two add-1-smoothed bucket unigram LMs — the target LM fitted
    on the :data:`DSIR_TARGET_SOURCES` subset, the raw LM on the whole
    corpus — length-normalized (÷ n_tokens) so long documents aren't
    favored, ranked descending with doc_id tie-break. The deterministic
    greedy top-k stands in for importance RESAMPLING so the result is
    oracle-exact; the sampling variant is one `q_sample_weighted`-style
    pass over the same weights.

    Determinism discipline: both ln(p) values ride the round-6 DECIMAL
    grid (libm ulp divergence would have to land on a rounding
    boundary), their difference and the per-doc sum are EXACT decimal —
    order-independent under any shuffle layout — and one final
    string→double cast + IEEE division produces avg_lw.

    Scale shape: token stream → two bucket aggregates (256-row model
    relations, broadcast), one broadcast join back onto the stream, one
    per-doc aggregate, TakeOrderedAndProject for the top-k — no
    corpus-sized sort, no window over the whole corpus. The token
    stream is retained (it feeds both model aggregates and the scoring
    join)."""
    bucket = _dsir_bucket("word", "spark")
    tokens = retain(
        documents.select(
            "doc_id",
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            ).alias("word"),
        ).select("doc_id", "source", F.expr(bucket).alias("b"))
    )
    raw = tokens.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        tokens.where(F.col("source").isin(*DSIR_TARGET_SOURCES))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    t_r = raw.agg(F.coalesce(F.sum("c_r"), F.lit(0)).alias("t_r"))
    t_t = tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_t"))
    model = (
        raw.join(tgt, "b", "left")
        .na.fill({"c_t": 0})
        .crossJoin(F.broadcast(t_r))
        .crossJoin(F.broadcast(t_t))
        .select(
            "b",
            (
                F.round(
                    F.log(
                        (F.col("c_t") + 1).cast("double")
                        / (F.col("t_t") + DSIR_BUCKETS).cast("double")
                    ),
                    6,
                ).cast("decimal(18,6)")
                - F.round(
                    F.log(
                        (F.col("c_r") + 1).cast("double")
                        / (F.col("t_r") + DSIR_BUCKETS).cast("double")
                    ),
                    6,
                ).cast("decimal(18,6)")
            ).alias("delta"),
        )
    )
    # model is keyed on the hashed bucket — domain is exactly
    # DSIR_BUCKETS by construction; limit declares it for the lint
    model = model.limit(DSIR_BUCKETS)
    scored = (
        tokens.join(F.broadcast(model), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("delta").alias("lw_sum"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(
                F.col("lw_sum").cast("string").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("avg_lw"),
        )
    )
    return scored.orderBy(F.desc("avg_lw"), F.asc("doc_id")).limit(keep_n)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_select(load_table(spark, sf_dir, "documents"))


def _dsir_oracle() -> str:
    bucket = _dsir_bucket("word", "duck")
    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
        WITH tokens AS (
            SELECT doc_id, source,
                   {bucket} AS b
            FROM (
                SELECT doc_id, source,
                       unnest(string_split(lower(trim(text)), ' ')) AS word
                FROM documents
            )
        ),
        raw AS (SELECT b, count(1)::BIGINT AS c_r FROM tokens GROUP BY b),
        tgt AS (
            SELECT b, count(1)::BIGINT AS c_t FROM tokens
            WHERE source IN ({srcs}) GROUP BY b
        ),
        totals AS (
            SELECT (SELECT coalesce(sum(c_r), 0) FROM raw) AS t_r,
                   (SELECT coalesce(sum(c_t), 0) FROM tgt) AS t_t
        ),
        model AS (
            SELECT r.b,
                   CAST(round(ln((coalesce(g.c_t, 0) + 1)::DOUBLE
                       / (t.t_t + {DSIR_BUCKETS})::DOUBLE), 6)
                       AS DECIMAL(18,6))
                   - CAST(round(ln((r.c_r + 1)::DOUBLE
                       / (t.t_r + {DSIR_BUCKETS})::DOUBLE), 6)
                       AS DECIMAL(18,6)) AS delta
            FROM raw r LEFT JOIN tgt g USING (b), totals t
        ),
        scored AS (
            SELECT tk.doc_id, tk.source, count(1)::BIGINT AS n_tokens,
                   round(CAST(CAST(sum(m.delta) AS VARCHAR) AS DOUBLE)
                         / count(1)::DOUBLE, 6) AS avg_lw
            FROM tokens tk JOIN model m USING (b)
            GROUP BY tk.doc_id, tk.source
        )
        SELECT doc_id, source, n_tokens, avg_lw
        FROM scored
        ORDER BY avg_lw DESC, doc_id ASC
        LIMIT {DSIR_KEEP_N}
    """


ORACLES["q_dsir_weights"] = _dsir_oracle()
QUERIES["q_dsir_weights"] = q_dsir_weights
BENCH.append("q_dsir_weights")


# ---------------------------------------------------------------------------
# leakage-safe split: near-dup clusters never straddle a split boundary
# ---------------------------------------------------------------------------

def leakproof_split_audit(documents: DataFrame, cc: DataFrame) -> DataFrame:
    """(split, n_docs, n_clusters, total_chars, naive_leaky_clusters) —
    train/val/test assignment keyed on the near-dup CLUSTER id instead
    of the document id, so every near-duplicate copy of a document
    lands on the same side of the split. The ``naive_leaky_clusters``
    column counts how many clusters the doc-id-keyed rule
    (:func:`split_assign`, the naive baseline) would have split across
    ≥2 partitions — the train→test contamination a cluster-keyed split
    exists to prevent (the eval-leakage twin of
    :func:`decontaminate`'s benchmark overlap audit).

    Scale shape: ONE corpus-wide shuffle — the per-cluster aggregate on
    ``cluster_id`` (docs ⟕ the tiny CC label relation is
    broadcast-able at real dup rates; singletons coalesce to their own
    id, no second pass). Everything after is cluster-cardinality-sized:
    the safe split is a hash of the cluster id on the AGGREGATED
    relation, the per-split rollup carries the leak count as a partial,
    and the only window runs over the ≤3-row split relation — one
    linear chain, no all-pairs, no corpus-wide window."""
    from .dedup import docs_with_clusters

    clustered = docs_with_clusters(documents, cc)
    naive = split_assign(clustered, "doc_id").withColumnRenamed(
        "split", "naive_split"
    )
    per_cluster = naive.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("naive_split").alias("n_naive_splits"),
    )
    safe = split_assign(per_cluster, "cluster_id")
    # the leak count rides the SAME per-split aggregate as partials and
    # totals via one unpartitioned window over the ≤3-row split relation
    # (structurally bounded: the split domain is {train,val,test}) — a
    # single linear chain, vs a second aggregate branch that would
    # re-reference the whole corpus subtree in the pre-execution plan
    # (10 pre-exec shuffles → 6, PLAN_AUDIT.md / review r11).
    per_split = safe.groupBy("split").agg(
        F.sum("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("total_chars").alias("total_chars"),
        F.sum((F.col("n_naive_splits") > 1).cast("long")).alias(
            "leaky_in_split"
        ),
    )
    return (
        per_split.withColumn(
            "naive_leaky_clusters",
            F.sum("leaky_in_split").over(Window.partitionBy()),
        )
        .select(
            "split", "n_docs", "n_clusters", "total_chars",
            "naive_leaky_clusters",
        )
        .orderBy("split")
    )


def q_split_leakproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split audit over the MinHash-LSH near-dup clusters
    — the assignment table a pretraining run reads INSTEAD of
    [[q_split_assign]] once dedup has found cross-copy structure."""
    from .dedup import _lsh_pairs_unordered, connected_components

    documents = load_table(spark, sf_dir, "documents")
    cc = connected_components(_lsh_pairs_unordered(spark, sf_dir))
    return leakproof_split_audit(documents, cc)


from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402 - oracle fragment

_SPLIT_CASE_TMPL = f"""CASE WHEN substr(md5({{k}}::VARCHAR), 1, 2) < '{SPLIT_TRAIN_HEX}' THEN 'train'
                    WHEN substr(md5({{k}}::VARCHAR), 1, 2) < '{SPLIT_VAL_HEX}' THEN 'val'
                    ELSE 'test' END"""
# d.doc_id: full_docs joins two relations that both carry doc_id
_SPLIT_CASE_DOC = _SPLIT_CASE_TMPL.format(k="d.doc_id")
_SPLIT_CASE_CLUSTER = _SPLIT_CASE_TMPL.format(k="cluster_id")

# the recursive-CTE cluster body is the clusters oracle minus its
# presentation ORDER BY (same splice as q_dedup_canonical)
ORACLES["q_split_leakproof"] = f"""
    WITH cc AS ({_DEDUP_ORACLES["q_dedup_clusters"].rsplit("ORDER BY", 1)[0]}),
    full_docs AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars,
               {_SPLIT_CASE_DOC} AS naive_split
        FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id
    ),
    per_cluster AS (
        SELECT cluster_id, count(1)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars,
               count(DISTINCT naive_split)::BIGINT AS n_naive_splits
        FROM full_docs GROUP BY cluster_id
    ),
    safe AS (
        SELECT *, {_SPLIT_CASE_CLUSTER} AS split FROM per_cluster
    ),
    per_split AS (
        SELECT split, sum(n_docs)::BIGINT AS n_docs,
               count(1)::BIGINT AS n_clusters,
               sum(total_chars)::BIGINT AS total_chars,
               sum((n_naive_splits > 1)::INT)::BIGINT AS leaky_in_split
        FROM safe GROUP BY split
    )
    SELECT split, n_docs, n_clusters, total_chars,
           CAST(sum(leaky_in_split) OVER () AS BIGINT) AS naive_leaky_clusters
    FROM per_split ORDER BY split
"""

QUERIES["q_split_leakproof"] = q_split_leakproof
BENCH.append("q_split_leakproof")


# ---------------------------------------------------------------------------
# temperature resampling: flatten the source distribution toward uniform
# ---------------------------------------------------------------------------

#: τ=2 deliberately, realized as INTEGER sqrt: weights are
#: floor(sqrt(n)) — sqrt is IEEE-correctly-rounded in both engines and
#: floor of it is exact for n < 2^52, so the weights, their sum, and
#: every quantity the keep decision touches are INTEGERS. The first cut
#: summed raw double sqrts, whose accumulation order is neither
#: engine- nor run-stable (review r11) — a 1-ulp divergence in Σ√n
#: could shift floor(rate·2^32) and flip a boundary document.
RESAMPLE_TEMPERATURE = 2
#: overall corpus keep fraction the flattened mixture targets, as an
#: exact integer ratio (floats never reach the keep decision).
RESAMPLE_KEEP_NUM = 1
RESAMPLE_KEEP_DEN = 2
RESAMPLE_KEEP_FRACTION = RESAMPLE_KEEP_NUM / RESAMPLE_KEEP_DEN
_HASH32_DENOM = 1 << 32
#: DECIMAL(38,0) for the cross-multiplied keep predicate: magnitudes
#: reach ~2^103 at a 100 TB corpus (h32·n·denom·den ≤ 2^32·2^44·2^27·2)
#: — far past BIGINT, comfortably inside decimal128 (the same
#: overflow-proofing as the CMS join estimator, operators/profile.py).
_DEC = "decimal(38,0)"


def _tau2_source_stats(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(non-NULL-source docs, per-source stats) shared by the τ=2
    mixture family — one definition of the NULL-source policy and the
    integer-sqrt weight (exact + engine-stable, see
    RESAMPLE_TEMPERATURE) so the one-pass and water-filled twins can
    never silently diverge (review r12; same rationale as _md5_uint)."""
    docs = docs.where(F.col("source").isNotNull())
    stats = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
    )
    return docs, stats


#: the stats CTE both τ=2 mixture oracles splice — the DuckDB twin of
#: :func:`_tau2_source_stats`, single-sourced for the same reason.
_TAU2_STATS_CTE = """stats AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS w
        FROM (SELECT source, count(1)::BIGINT AS n_docs
              FROM documents WHERE source IS NOT NULL GROUP BY source)
    )"""


def temperature_resample(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Per-source audit of temperature-flattened resampling — the
    standard pretraining mixture move (multilingual/source balancing):
    source i with n_i documents is kept at a rate proportional to
    w_i/Σw_j with w = floor(sqrt(n)) (τ=2) instead of n_i/Σn_j,
    up-weighting small sources and down-weighting dominant ones while
    targeting ``RESAMPLE_KEEP_FRACTION`` of the corpus overall.

    Per-document keep/drop is deterministic AND engine-exact: the md5
    uint32 coin is compared via the cross-multiplied INTEGER predicate

        h32 · n_i · Σw · KEEP_DEN  <  total · w_i · 2^32 · KEEP_NUM

    evaluated in DECIMAL(38,0) — no float ever reaches the decision
    (same discipline as :func:`weighted_hash_sample`), and a rate ≥ 1
    keeps everything because h32 < 2^32 by construction (the cap needs
    no ``least``). The ``rate`` output column is display-only
    (round 6).

    KNOWN BIAS, documented: capped sources (uncapped rate > 1) do not
    redistribute their unused keep mass, so the realized corpus keep
    fraction UNDERSHOOTS the target in proportion to how much mass the
    cap strands — the standard one-pass temperature-sampling behavior
    (renormalizing to hit the target exactly is an iterative
    water-filling; out of scope here, and the audit output makes the
    shortfall visible per source).

    Returns (source, n_docs, n_kept, rate) ordered by source.

    Scale shape: TWO corpus passes, both embarrassingly map-side — a
    per-source count (map-combined aggregate; the weight math runs as
    two window functions over the ≤#sources-row stats relation, never
    the corpus) and the filtered re-count after a join against that
    tiny relation (AQE broadcasts it from measured size; unhinted per
    the broadcast policy since source cardinality is data-derived).
    No corpus-wide window, no driver collect.

    NULL-source documents are excluded up front (ADVICE r11): the
    kept-count inner join on ``source`` can never match a NULL key, so
    without the filter the audit would report rate > 0 with n_kept = 0
    for a NULL-source row — a misleading row, not a wrong keep
    decision. A mixture policy has no rate for an unattributed source;
    route such docs to a quarantine/default source upstream."""
    docs, stats = _tau2_source_stats(docs)
    w_all = Window.partitionBy()  # ≤ #sources rows by construction
    denom = F.sum("w").over(w_all)  # INTEGER sum — order-free, exact
    total = F.sum("n_docs").over(w_all)
    rate_display = F.round(
        F.least(
            F.lit(1.0),
            total.cast("double")
            * F.col("w").cast("double")
            * F.lit(float(RESAMPLE_KEEP_NUM))
            / F.lit(float(RESAMPLE_KEEP_DEN))
            / denom.cast("double")
            / F.col("n_docs").cast("double"),
        ),
        6,
    )
    rates = stats.select(
        "source",
        "n_docs",
        (
            F.col("n_docs").cast(_DEC)
            * F.lit(RESAMPLE_KEEP_DEN).cast(_DEC)
            * denom.cast(_DEC)
        ).alias("lhs_scale"),
        (
            total.cast(_DEC)
            * F.col("w").cast(_DEC)
            * F.lit(_HASH32_DENOM).cast(_DEC)
            * F.lit(RESAMPLE_KEEP_NUM).cast(_DEC)
        ).alias("rhs"),
        rate_display.alias("rate"),
    )
    h32 = _md5_uint(key, 8)
    kept = (
        docs.join(rates.select("source", "lhs_scale", "rhs"), "source")
        .where(h32.cast(_DEC) * F.col("lhs_scale") < F.col("rhs"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "rate",
        )
        .orderBy("source")
    )


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture audit over the documents corpus —
    the data-derived-rate twin of [[q_mixture_sample]]'s fixed-rate
    table."""
    return temperature_resample(load_table(spark, sf_dir, "documents"))


ORACLES["q_mixture_temperature"] = f"""
    WITH {_TAU2_STATS_CTE},
    tot AS (
        SELECT source, n_docs, w,
               CAST(sum(w) OVER () AS BIGINT) AS denom,
               CAST(sum(n_docs) OVER () AS BIGINT) AS total
        FROM stats
    ),
    rates AS (
        SELECT source, n_docs,
               (n_docs::DECIMAL(38,0) * {RESAMPLE_KEEP_DEN}
                * denom::DECIMAL(38,0)) AS lhs_scale,
               (total::DECIMAL(38,0) * w::DECIMAL(38,0)
                * {_HASH32_DENOM} * {RESAMPLE_KEEP_NUM}) AS rhs,
               -- display only; op order mirrors the Spark expression
               round(least(1.0,
                     total::DOUBLE * w::DOUBLE * {float(RESAMPLE_KEEP_NUM)}
                     / {float(RESAMPLE_KEEP_DEN)} / denom::DOUBLE
                     / n_docs::DOUBLE), 6) AS rate
        FROM tot
    ),
    kept AS (
        SELECT d.source, count(1)::BIGINT AS n_kept
        FROM documents d JOIN rates r USING (source)
        WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT::DECIMAL(38,0)
              * r.lhs_scale < r.rhs
        GROUP BY d.source
    )
    SELECT r.source, r.n_docs,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept, r.rate
    FROM rates r LEFT JOIN kept k USING (source)
    ORDER BY r.source
"""

QUERIES["q_mixture_temperature"] = q_mixture_temperature
BENCH.append("q_mixture_temperature")


# ---------------------------------------------------------------------------
# exact water-filled temperature mixture — closes temperature_resample's
# documented cap-undershoot bias
# ---------------------------------------------------------------------------

def waterfill_resample(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Per-source audit of EXACT temperature-flattened resampling —
    the renormalizing pass :func:`temperature_resample` documents as
    out of scope ("iterative water-filling"): capped sources' unused
    keep mass is redistributed so the expected kept total hits the
    integer target K = total·KEEP_NUM div KEEP_DEN EXACTLY (the
    one-pass form undershoots by the stranded mass).

    Water-filling needs no iteration: find the scale s ≥ 0 with
    Σᵢ min(nᵢ, s·wᵢ) = K (w = floor(sqrt(n)), τ=2). A source caps when
    s ≥ nᵢ/wᵢ, so sorted by cap point ascending the capped set is a
    PREFIX, and the greedy "row r caps iff the scale implied by the
    prefix before it still reaches its cap point" is per-row window
    math: cond_r = (K − Σ_{<r} n)·w_r ≥ n_r·(W − Σ_{<r} w), capped_r =
    every(cond) over the prefix (once a row fails, every later row has
    a higher cap point and the same remaining mass, so it fails too).
    Then s = num*/den* with num* = K − Σ_capped n, den* = W − Σ_capped w.

    Engine-exactness discipline (q_mixture_temperature postmortem):
    every DECISION is cross-multiplied DECIMAL(38,0) integer
    arithmetic — cond_r above, and the per-document keep coin
    h32·den*·nᵢ < num*·wᵢ·2³² for uncapped sources (capped keep all;
    num*·wᵢ·2³² ≤ ~1e30 at 100 TB corpus counts, well inside 38
    digits). The ONLY float is the sort key nᵢ/wᵢ — a single IEEE-754
    division, correctly rounded and bit-identical in both engines,
    with the source as unique tie-break. The ``rate`` column is
    display-only (round 6). NULL-source documents are excluded up
    front (same policy as temperature_resample).

    Exactness invariant (pinned by test): Σᵢ exact-expected-kept =
    Σ_capped nᵢ + s·Σ_uncapped wᵢ = K precisely, as rationals.

    Scale shape: identical to temperature_resample — one map-combined
    per-source count, window math over the ≤#sources stats relation
    (never the corpus), one corpus join against that tiny relation
    (AQE broadcasts from measured size) and a filtered re-count.
    Returns (source, n_docs, capped, rate, n_kept) ordered by source."""
    docs, stats = _tau2_source_stats(docs)
    w_all = Window.partitionBy()  # ≤ #sources rows by construction
    ordered = (
        Window.partitionBy()
        .orderBy(
            (F.col("n_docs").cast("double") / F.col("w").cast("double")).asc(),
            F.col("source").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = stats.select(
        "source",
        "n_docs",
        "w",
        F.expr(
            f"(sum(n_docs) over () * {RESAMPLE_KEEP_NUM}) div {RESAMPLE_KEEP_DEN}"
        ).alias("k_target"),
        F.sum("w").over(w_all).alias("w_total"),
        (F.sum("n_docs").over(ordered) - F.col("n_docs")).alias("cum_n_prev"),
        (F.sum("w").over(ordered) - F.col("w")).alias("cum_w_prev"),
    )
    cond = (
        (F.col("k_target") - F.col("cum_n_prev")).cast(_DEC) * F.col("w").cast(_DEC)
        >= F.col("n_docs").cast(_DEC)
        * (F.col("w_total") - F.col("cum_w_prev")).cast(_DEC)
    )
    flagged = ranked.withColumn("cond", cond).withColumn(
        "capped", F.min(F.col("cond").cast("int")).over(ordered) == 1
    )
    rates = flagged.select(
        "source",
        "n_docs",
        "w",
        "capped",
        (
            F.col("k_target")
            - F.sum(F.when(F.col("capped"), F.col("n_docs")).otherwise(0)).over(w_all)
        ).alias("num_star"),
        (
            F.col("w_total")
            - F.sum(F.when(F.col("capped"), F.col("w")).otherwise(0)).over(w_all)
        ).alias("den_star"),
    ).select(
        "source",
        "n_docs",
        "capped",
        # coin predicate sides (integers; capped rows keep everything)
        (F.col("den_star").cast(_DEC) * F.col("n_docs").cast(_DEC)).alias(
            "lhs_scale"
        ),
        (
            F.col("num_star").cast(_DEC)
            * F.col("w").cast(_DEC)
            * F.lit(_HASH32_DENOM).cast(_DEC)
        ).alias("rhs"),
        F.when(F.col("capped"), F.lit(1.0))
        .otherwise(
            F.round(
                F.col("num_star").cast("double")
                * F.col("w").cast("double")
                / F.col("den_star").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            )
        )
        .alias("rate"),
    )
    h32 = _md5_uint(key, 8)
    kept = (
        docs.join(rates.select("source", "capped", "lhs_scale", "rhs"), "source")
        .where(F.col("capped") | (h32.cast(_DEC) * F.col("lhs_scale") < F.col("rhs")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "capped",
            "rate",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-target temperature mixture audit over the documents
    corpus — the water-filled twin of [[q_mixture_temperature]] (which
    documents its cap-undershoot as the standard one-pass behavior;
    this query is the renormalized planner a budgeted pretraining run
    actually wants)."""
    return waterfill_resample(load_table(spark, sf_dir, "documents"))


ORACLES["q_mixture_waterfill"] = f"""
    WITH {_TAU2_STATS_CTE},
    ranked AS (
        SELECT source, n_docs, w,
               CAST(sum(n_docs) OVER () * {RESAMPLE_KEEP_NUM}
                    // {RESAMPLE_KEEP_DEN} AS BIGINT) AS k_target,
               CAST(sum(w) OVER () AS BIGINT) AS w_total,
               CAST(sum(n_docs) OVER ord - n_docs AS BIGINT) AS cum_n_prev,
               CAST(sum(w) OVER ord - w AS BIGINT) AS cum_w_prev
        FROM stats
        WINDOW ord AS (ORDER BY n_docs::DOUBLE / w::DOUBLE, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    flagged AS (
        SELECT *,
               bool_and((k_target - cum_n_prev)::DECIMAL(38,0) * w
                        >= n_docs::DECIMAL(38,0) * (w_total - cum_w_prev))
                   OVER (ORDER BY n_docs::DOUBLE / w::DOUBLE, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS capped
        FROM ranked
    ),
    rates AS (
        SELECT source, n_docs, capped,
               ((w_total - sum(CASE WHEN capped THEN w ELSE 0 END) OVER ())
                ::DECIMAL(38,0) * n_docs) AS lhs_scale,
               ((k_target - sum(CASE WHEN capped THEN n_docs ELSE 0 END)
                 OVER ())::DECIMAL(38,0) * w * {_HASH32_DENOM}) AS rhs,
               CASE WHEN capped THEN 1.0
                    ELSE round((k_target
                                - sum(CASE WHEN capped THEN n_docs ELSE 0 END)
                                  OVER ())::DOUBLE
                               * w::DOUBLE
                               / (w_total
                                  - sum(CASE WHEN capped THEN w ELSE 0 END)
                                    OVER ())::DOUBLE
                               / n_docs::DOUBLE, 6)
               END AS rate
        FROM flagged
    ),
    kept AS (
        SELECT d.source, count(1)::BIGINT AS n_kept
        FROM documents d JOIN rates r USING (source)
        WHERE r.capped
           OR ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
              ::DECIMAL(38,0) * r.lhs_scale < r.rhs
        GROUP BY d.source
    )
    SELECT r.source, r.n_docs, r.capped, r.rate,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept
    FROM rates r LEFT JOIN kept k USING (source)
    ORDER BY r.source
"""

QUERIES["q_mixture_waterfill"] = q_mixture_waterfill
BENCH.append("q_mixture_waterfill")
