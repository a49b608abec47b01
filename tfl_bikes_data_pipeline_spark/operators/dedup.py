"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Large-scale training-data dedup, expressed as pure DataFrame plans
(no Python UDFs — everything stays JVM-side and shuffles only on the
dedup keys):

- exact dedup           : hash-groupBy on normalized text
- MinHash + LSH         : shingle → minhash signature → band → bucket
                          join → candidate pairs → jaccard verify
- SimHash               : per-bit majority over token hashes
- n-gram Jaccard        : exact jaccard over shingle-sharing pairs,
                          document-frequency-capped candidate index
- embedding near-dup    : asymmetric IVF probing (home bucket index,
                          nprobe query probes) over ``array<float>``;
                          symmetric multi-assign + exact all-pairs kept
                          as library/recall baselines

Scale notes: the LSH path is the 100 TB design — candidate generation
cost is O(docs × bands) with a shuffle keyed on (band_id, band_key);
only colliding buckets produce pairs, so the verify join never goes
quadratic. The exact-jaccard query prunes to pairs sharing ≥1
*rare* shingle (inverted-index join with a document-frequency cap —
standard inverted-index pruning — so no shingle bucket ever exceeds
``NGRAM_MAX_DF`` postings and the pair fan-out per shingle is bounded
by C(NGRAM_MAX_DF, 2)). Hash functions are md5-based so the DuckDB
oracles compute identical signatures (lexicographic MIN over hex
digests is a valid minhash permutation surrogate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..scope import register, retain
from ..tables import ensure_scan_parallelism, load_table, table_row_count

NUM_MINHASH = 8
NUM_BANDS = 4  # rows-per-band = 2
DEFAULT_SHINGLE = 3
JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.4

#: Inverted-index document-frequency cap: shingles appearing in more
#: than this many documents are dropped from CANDIDATE GENERATION (the
#: verify step still uses the full shingle sets, so surviving pairs get
#: their exact uncapped jaccard). A high-df shingle ("the quick") would
#: otherwise make pair generation quadratic in its posting-list length;
#: with the cap every shingle bucket yields ≤ C(cap, 2) pairs and total
#: candidate cost is O(#distinct shingles · cap²) — linear in corpus
#: size. Near-dup pairs share many shingles including rare ones, so the
#: recall loss is confined to pairs whose ENTIRE overlap is boilerplate
#: (pinned in tests/test_dedup.py).
NGRAM_MAX_DF = 16


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------

def shingle_rel(documents: DataFrame, n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    Docs with fewer than n words produce no shingles (and drop out of
    downstream signatures) — mirrored in the oracles.

    Built as the NARROW form: per-doc ``array_distinct`` inside
    :func:`shingle_sets` is exactly the global (doc_id, shingle)
    distinct, so exploding the deduped array replaces the corpus-wide
    ``.distinct()`` Exchange the naive explode-then-distinct plan pays
    — zero shuffles, and one shingle pipeline instead of two."""
    return shingle_sets(documents, n, with_digests=False).select(
        "doc_id", F.explode("sset").alias("shingle")
    )


def shingle_sets(
    documents: DataFrame, n: int = DEFAULT_SHINGLE, with_digests: bool = True
) -> DataFrame:
    """(doc_id, sset[, digests], n_shingles) — the per-document distinct
    shingle set, its md5 digests, and its cardinality, computed entirely
    with array expressions: tokenize → shingle transform →
    array_distinct → per-element md5. A completely NARROW plan — zero
    shuffles, no explode — which is what makes the LSH pipeline cheap:
    the only shuffles left are the band bucket-join and the verify
    joins. At 100 TB this scales as a pure map over the corpus.

    ``with_digests=False`` skips the per-shingle md5 column — the
    digests feed only minhash signatures, so consumers that just need
    sets/counts (the n-gram jaccard path) save one hash per shingle."""
    words = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    shingles = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(w) - {n}), "
        f"i -> concat_ws(' ', slice(w, i + 1, {n})))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    cols = ["sset"]
    if with_digests:
        cols.append(F.expr("transform(sset, s -> md5(s))").alias("digests"))
    return words.select(
        "doc_id", F.expr(shingles).alias("sset")
    ).select("doc_id", *cols, F.size("sset").alias("n_shingles"))


def minhash_signatures(sets: DataFrame, num_hashes: int = NUM_MINHASH) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — minhash signature from the per-doc digest
    array: ONE md5 per shingle, split into k disjoint hex chunks
    (128/k bits each) standing in for k independent permutations; per
    chunk, array_min over the doc's digests. Still narrow — no shuffle.
    4-hex (16-bit) chunks at k=8; with 2 rows per band the bucket key is
    32 bits effective — false-collision rate stays negligible at corpus
    scale, and in-set min ties are harmless to MIN."""
    chunk = 32 // num_hashes
    cols = [
        F.expr(
            f"array_min(transform(digests, d -> substring(d, {j * chunk + 1}, {chunk})))"
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return sets.where(F.col("n_shingles") > 0).select("doc_id", *cols)


def lsh_bands(
    signatures: DataFrame, num_bands: int = NUM_BANDS, num_hashes: int = NUM_MINHASH
) -> DataFrame:
    """(doc_id, band_id, band_key) — the banded LSH bucket relation:
    signature split into bands, each band hashed to a bucket key. The
    shared building block of the self-join (near-dup pairs) and the
    batch-vs-corpus join (incremental near-dup)."""
    rows_per_band = num_hashes // num_bands
    band_keys = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(num_bands)
    ]
    return signatures.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band_id", "band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_bands: int = NUM_BANDS, num_hashes: int = NUM_MINHASH
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded LSH: docs sharing a
    (band, bucket) become candidates. The self-join shuffles on the
    bucket key only — never all-pairs."""
    bands = lsh_bands(signatures, num_bands, num_hashes)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(y, ["band_id", "band_key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, min_jaccard: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) over ALL pairs sharing ≥1 shingle — the
    exact inverted-index formulation (recall baseline). Jaccard is
    |∩| / (|A|+|B|-|∩|) — exact integer counts, so the double division
    is bit-identical across engines. Per-doc set sizes ride along via a
    window instead of two extra dimension joins."""
    sized = shingles.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = sized.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("nd").alias("na"))
    b = sized.select(F.col("doc_id").alias("doc_b"), "shingle", F.col("nd").alias("nb"))
    return (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )



#: narrow in-row expansion of the C(df,2) ordered pairs of a sorted doc
#: array — shared by the candidate index and the pruned pair counters.
_PAIR_EXPANSION = (
    "flatten(transform(sequence(1, size(docs) - 1), i -> "
    "transform(slice(docs, i + 1, size(docs) - i), d -> "
    "struct(element_at(docs, i) AS doc_a, d AS doc_b))))"
)


def _grouped_postings(sets: DataFrame) -> DataFrame:
    """(shingle, docs, df) — the grouped inverted index: per distinct
    shingle, the SORTED array of docs containing it and its document
    frequency. ONE aggregation shuffle (map-side partial collect_set
    compresses duplicate postings before the exchange); every consumer
    of the df-capped index derives narrowly from this relation, where
    the previous shape re-joined the exploded posting stream against a
    separate df aggregate — profiled at sf0.1 as the same posting
    exchange executing 3x per query (capped side a, capped side b,
    heavy counts). Retained (MEMORY_AND_DISK) across those readers;
    storage is one row per distinct shingle, the same order as the
    posting stream it replaces."""
    return retain(
        sets.where(F.col("n_shingles") > 0)
        .select("doc_id", F.explode("sset").alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .select("shingle", "docs", F.size("docs").alias("df"))
    )


def _capped_pair_counts(grouped: DataFrame, max_df: int) -> DataFrame:
    """(doc_a, doc_b, c) with doc_a < doc_b — per ordered pair, the
    EXACT count of shared shingles with df in [2, max_df]: the bounded
    pair stream (each surviving shingle contributes <= C(max_df, 2)
    pairs), counted directly from the grouped arrays with no posting
    self-join. Identical to the join-based count: the arrays are the
    per-shingle doc sets, so expanding ordered pairs and counting
    per (doc_a, doc_b) is the same multiset the equi-join produced."""
    return (
        grouped.where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select(F.explode(F.expr(_PAIR_EXPANSION)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _heavy_counts(grouped: DataFrame, max_df: int) -> DataFrame:
    """(doc_id, h) — per doc, how many of its shingles were capped OUT
    of the index (df > max_df): the prune bound's boilerplate term."""
    return (
        grouped.where(F.col("df") > max_df)
        .select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )


def ngram_candidate_pairs(
    shingles: DataFrame, max_df: int = NGRAM_MAX_DF
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing ≥1 shingle with document
    frequency ≤ ``max_df``. Bounded by construction: each surviving
    shingle contributes ≤ C(max_df, 2) pairs, so candidate cost is
    linear in the number of distinct shingles — never quadratic in a
    posting list (the uncapped plan's failure mode at 100 TB).

    Plan shape: ONE aggregation shuffle on ``shingle`` (map-side
    partial `collect_set` compresses duplicate postings before the
    exchange) into per-shingle sorted doc arrays, then a NARROW
    in-row expansion of the C(df,2) ordered pairs, then the pair
    distinct. Shingles with df=1 — the overwhelming majority of an
    inverted index — are dropped by the HAVING before any pair work,
    and df>max_df buckets are dropped whole; this replaces the earlier
    window-count + posting self-join (two wide ops over the full
    posting relation) with one."""
    grouped = (
        shingles.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= max_df))
    )
    pair_expansion = (
        # element_at (1-based, matching DuckDB/slice indexing) per the
        # lockstep rule — not docs[i] (0-based), whose shifted sequence
        # bounds invite off-by-one drift in any future textual mirror.
        "flatten(transform(sequence(1, size(docs) - 1), i -> "
        "transform(slice(docs, i + 1, size(docs) - i), d -> "
        "struct(element_at(docs, i) AS doc_a, d AS doc_b))))"
    )
    return (
        grouped.select(F.explode(F.expr(pair_expansion)).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs_pruned(
    sets: DataFrame,
    min_jaccard: float = JACCARD_THRESHOLD,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — the df-capped n-gram jaccard with
    UPPER-BOUND pruning: identical output to
    ``verify_candidates(sets, ngram_candidate_pairs(...), t)`` (pinned
    by tests/test_dedup.py), but the exact array verify runs only on
    pairs that could possibly pass the threshold.

    The bound: for a candidate pair, let c = number of shared shingles
    with df ∈ [2, max_df] (an exact integer from the bounded
    posting-list pair stream), and h_x = number of doc x's shingles
    with df > max_df (its *heavy*/boilerplate count). The true shared
    count is ≤ c + min(h_a, h_b), and jaccard is increasing in the
    shared count, so
        true_jaccard ≤ (c + m) / (n_a + n_b - c - m),  m = min(h_a, h_b).
    Pairs whose bound falls below the threshold are dropped with pure
    integer/double arithmetic — no arrays touched; survivors (a tiny
    fraction: near-dups are rare by definition) get the exact
    array-intersect verify. A small epsilon keeps the pruning
    conservative: borderline pairs go to the exact verify rather than
    being dropped.

    Scale shape: two shuffles of the integer posting stream (df
    aggregate + df join), one bounded pair-stream aggregate (each
    surviving shingle contributes ≤ C(max_df, 2) pairs), two
    integer-stat joins, and an array join ONLY for bound-passing
    pairs. The full-array join for every candidate — the cost that
    dominates when candidate density is high — never happens."""
    grouped = _grouped_postings(sets)
    pairc = _capped_pair_counts(grouped, max_df)
    heavy = _heavy_counts(grouped, max_df)
    stats = sets.select("doc_id", F.col("n_shingles").alias("n")).join(
        heavy, "doc_id", "left"
    ).select("doc_id", "n", F.coalesce("h", F.lit(0)).alias("h"))
    bounded = (
        pairc.join(
            stats.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("na"),
                F.col("h").alias("ha"),
            ),
            "doc_a",
        )
        .join(
            stats.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nb"),
                F.col("h").alias("hb"),
            ),
            "doc_b",
        )
        .withColumn("m", F.least("ha", "hb"))
        .where(
            (F.col("c") + F.col("m")).cast("double")
            / (F.col("na") + F.col("nb") - F.col("c") - F.col("m")).cast("double")
            >= min_jaccard - 1e-9
        )
        .select("doc_a", "doc_b")
    )
    return verify_candidates(sets, bounded, min_jaccard)


def verify_candidates(
    sets: DataFrame, candidates: DataFrame, min_jaccard: float
) -> DataFrame:
    """Jaccard-verify LSH candidate pairs via set intersection — the
    scalable verify: candidate pairs pick up both docs' shingle-set
    arrays by key join, and the exact jaccard is
    ``size(array_intersect)`` per pair. Work is O(candidates × doc
    length) — the corpus-wide inverted-index self-join never runs,
    which is the whole point of LSH at 100 TB."""
    sets = sets.select("doc_id", "sset", F.col("n_shingles").alias("n"))
    return (
        candidates.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sset").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sset").alias("sb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("n_common"),
            "na",
            "nb",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


#: Asymmetric-containment threshold: doc A counts as "contained in" B
#: when |S_A ∩ S_B| / |S_A| ≥ this. Lower than the jaccard threshold on
#: purpose — an excerpt is a HIGH-containment, LOW-jaccard pair (a 10%
#: quote of a long doc has jaccard ≈ 0.1 but containment ≈ 1.0), which
#: is exactly the duplication mode symmetric jaccard misses.
CONTAINMENT_THRESHOLD = 0.6


def containment_pairs_pruned(
    sets: DataFrame,
    min_containment: float = CONTAINMENT_THRESHOLD,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b, containment) — ordered pairs where doc_a's
    shingle set is ≥ ``min_containment`` covered by doc_b's: the
    EXCERPT/QUOTE dedup relation. Symmetric jaccard cannot see a short
    doc embedded in a long one (the union denominator drowns it); the
    containment denominator is |S_A| alone, so a verbatim excerpt
    scores ~1.0 regardless of the container's length. The standard
    filter for "doc is a substring-duplicate of a longer doc" in
    training-data curation.

    Same scale shape as :func:`ngram_jaccard_pairs_pruned` (shared
    df-capped inverted index, bounded C(max_df, 2) pair fan-out per
    shingle), with the prune bound adapted to the asymmetric
    denominator: true_common ≤ c + min(h_a, h_b) still holds (c =
    capped common count, h_x = doc x's df-capped-out shingle count),
    so containment(a→b) ≤ (c + m) / n_a and pairs below threshold are
    dropped on pure integer arithmetic before any array verify. Both
    orientations of each unordered candidate are bounded and verified
    (containment is directional — a ⊂ b does not imply b ⊂ a)."""
    grouped = _grouped_postings(sets)
    # unordered candidate counts once, then both orientations — halves
    # the pair-stream aggregate vs counting ordered pairs directly.
    pairc_u = _capped_pair_counts(grouped, max_df)
    heavy = _heavy_counts(grouped, max_df)
    pairc = pairc_u.unionByName(
        pairc_u.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"), "c"
        )
    )
    stats = (
        sets.where(F.col("n_shingles") > 0)
        .select("doc_id", F.col("n_shingles").alias("n"))
        .join(heavy, "doc_id", "left")
        .select("doc_id", "n", F.coalesce("h", F.lit(0)).alias("h"))
    )
    bounded = (
        pairc.join(
            stats.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("na"),
                F.col("h").alias("ha"),
            ),
            "doc_a",
        )
        .join(
            stats.select(
                F.col("doc_id").alias("doc_b"),
                F.col("h").alias("hb"),
            ),
            "doc_b",
        )
        .withColumn("m", F.least("ha", "hb"))
        .where(
            (F.col("c") + F.col("m")).cast("double") / F.col("na").cast("double")
            >= min_containment - 1e-9
        )
        .select("doc_a", "doc_b")
    )
    pick = sets.select("doc_id", "sset", F.col("n_shingles").alias("n"))
    return (
        bounded.join(
            pick.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sset").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            pick.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.col("na").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def _hex_bit_exprs_spark(b: int) -> str:
    """Bit b of the md5 hash of `word`: hex digit b//4, bit b%4."""
    hexv = f"(instr('0123456789abcdef', substr(md5(word), {b // 4 + 1}, 1)) - 1)"
    return f"(({hexv} div {2 ** (b % 4)}) % 2)"


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — per-bit weighted majority over word hashes.
    Token weights are term counts; bit b of a token's md5 votes ±count.
    Pure integer math → engine-identical."""
    words = documents.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    )
    counts = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    score_aggs = [
        F.expr(f"sum(n * (2 * {_hex_bit_exprs_spark(b)} - 1))").alias(f"s{b}")
        for b in range(bits)
    ]
    scored = counts.groupBy("doc_id").agg(*score_aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return scored.select("doc_id", sim.cast("int").alias("simhash"))


SIMHASH_BITS = 16
SIMHASH_BANDS = 4  # pigeonhole: hamming ≤ bands-1 ⇒ ≥1 band identical
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1


def _band_key_cols(hash_col: str, bits: int, bands: int) -> list:
    """The ONE banding expression (posexplode of per-band unsigned-
    shift-and-mask keys) shared by the pair join AND its pre-flight
    bucket profile — extracted so the profile can never silently price
    a different banding than the join runs (r10 review finding)."""
    width = bits // bands
    return [
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), b * width)
                    .bitwiseAND(2**width - 1)
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_key")
    ]


def banded_hamming_pairs(
    hashes: DataFrame, hash_col: str, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) — the ONE banded-hamming candidate
    discipline both hash modalities share (text simhash and image
    ahash): the ``bits``-bit hash splits into ``bands`` equal bands; by
    pigeonhole any pair within hamming ≤ bands-1 collides on ≥1 band,
    so the self-join shuffles on (band, key) buckets — never all-pairs
    — and verification is integer ``bit_count(a XOR b)``.

    Band keys use mask, not %: a shift-by-0 of a SIGNED 64-bit hash
    returns the signed value, and % follows the sign in Spark while the
    oracles' ``(h >> k) & mask`` is always the unsigned low bits —
    bitwiseAND matches them for every band and every hash width."""
    banded = hashes.select(
        "doc_id", hash_col, *_band_key_cols(hash_col, bits, bands)
    )
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(y, ["band_id", "band_key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.expr(f"bit_count(x.{hash_col} ^ y.{hash_col})").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def banded_bucket_profile(
    hashes: DataFrame, hash_col: str, bits: int, bands: int, top: int = 20
) -> DataFrame:
    """(band_id, band_key, n_docs, pair_bound) — the ``top`` heaviest
    band buckets of a banded-hamming index, with the exact candidate
    budget each implies (n·(n−1)/2). The PRE-FLIGHT for any banded
    pair join: the join's cost is the sum of per-bucket pair bounds,
    so a handful of hot buckets IS the early warning that the pair
    listing will be output-explosive (the r10 100× databound sweep
    found exactly that shape — a zipf text corpus aliases byte-cell
    aHashes into hot buckets whose pair volume runs to billions; a
    profile like this costs one linear pass and tells the operator
    BEFORE the join does). One aggregation over the same banding
    expression the join itself uses (so the profile can never drift
    from the join), then a bounded top-k — TakeOrderedAndProject, no
    full sort."""
    banded = hashes.select(*_band_key_cols(hash_col, bits, bands))
    return (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "pair_bound",
            (F.col("n_docs") * (F.col("n_docs") - 1) / F.lit(2)).cast("long"),
        )
        .orderBy(F.desc("n_docs"), F.asc("band_id"), F.asc("band_key"))
        .limit(top)
    )


def simhash_pairs(
    hashes: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """(doc_a, doc_b, hamming) — near-dup pairs by simhash distance:
    :func:`banded_hamming_pairs` over the 16-bit hash in 4 nibble
    bands (pigeonhole covers hamming ≤ 3)."""
    return banded_hamming_pairs(
        hashes, "simhash", SIMHASH_BITS, SIMHASH_BANDS, max_hamming
    )


def embedding_cosine_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — pairwise cosine near-dup over
    array<float>. Brute-force all-pairs: correct at test scale; the
    100 TB path buckets via IVF/LSH first (see operators.similarity)
    so only same-bucket pairs are compared.

    Floats are widened to double *before* any arithmetic so Spark and
    the oracle do identical IEEE double math; the result is rounded to
    6 decimals (error ~1e-12 never straddles the rounding boundary).
    """
    from ..functions.vectors import cosine_expr, to_double_vec

    e = embeddings.select("vec_id", to_double_vec("embedding", "v"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine_expr("va", "vb").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


#: IVF blocking knobs for the embedding near-dup (same deterministic
#: seed-centroid scheme as operators.similarity.ivf_assign). Centroid
#: count scales with corpus size so the per-bucket population — and
#: with it the quadratic verify term — stays CONSTANT as the corpus
#: grows: k = max(MIN_CENTROIDS, n // DOCS_PER_CENTROID) keeps total
#: candidate pairs ~O(n · nassign · DOCS_PER_CENTROID), i.e. linear.
EMBED_BLOCK_MIN_CENTROIDS = 8
EMBED_BLOCK_DOCS_PER_CENTROID = 50
#: multi-probe width — the recall knob. 5 assignments per vector gives
#: measured recall 1.0 vs the exact all-pairs baseline at threshold
#: 0.4 on both sf0.001 and sf0.01 (nassign=3 measured ≈0.9; floor
#: pinned at ≥0.8 in tests/test_dedup.py). Verify cost scales linearly
#: in nassign, so the 5/3 cost bump buys back every missed pair.
EMBED_BLOCK_NASSIGN = 5


def embed_block_num_centroids(n_rows: int) -> int:
    """Corpus-scaled centroid count: keeps expected bucket population
    at the constant DOCS_PER_CENTROID so total verify cost stays linear
    in corpus size (the formula the DuckDB oracle mirrors textually)."""
    return max(EMBED_BLOCK_MIN_CENTROIDS, n_rows // EMBED_BLOCK_DOCS_PER_CENTROID)


#: coarse probes for the two-level assignment variant — how many coarse
#: cells each vector expands before fine scoring (the recall knob of
#: the hierarchical path, analogous to nassign for the flat path).
#: 4 measures recall 1.0 vs exact all-pairs on sf0.001 AND sf0.01
#: (3 measured 0.92/0.90); stage-3 cost is O(n·probes·√k), so the 4/3
#: bump is linear and stays sub-flat for k_c = ⌈√k⌉ > 4 (n > ~12k
#: vectors at k = n/50).
EMBED_COARSE_PROBES = 4


def _flat_multi_assign(e: DataFrame, centroids: DataFrame, nassign: int) -> DataFrame:
    """(vec_id, centroid_id) — top-``nassign`` centroids per vector by
    scoring ALL k centroids: O(n·k) centroid scores. Exact, and the
    declared query's (oracle-mirrored) form; at k = n/50 this term is
    O(n²/50) — fine through ~10⁶ vectors, the two-level variant below
    takes over beyond that."""
    from ..functions.vectors import dot_expr

    scored = e.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        F.round(
            F.expr(dot_expr("qv", "cv")) / (F.col("nq") * F.col("nv")), 6
        ).alias("c_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nassign)
        .select("vec_id", "centroid_id")
    )


def _two_level_multi_assign(
    e: DataFrame,
    centroids: DataFrame,
    k: int,
    nassign: int,
    coarse_probes: int = EMBED_COARSE_PROBES,
    with_rank: bool = False,
) -> DataFrame:
    """(vec_id, centroid_id) — hierarchical coarse→fine assignment:
    the 100 TB replacement for the flat scorer's O(n·k) term.

    k_c = ⌈√k⌉ coarse centroids (the lowest-id fine seeds). Three
    bounded stages: (1) each FINE centroid maps to its nearest coarse
    cell — k·k_c scores on a broadcast relation, independent of n;
    (2) each vector scores only the k_c coarse centroids and keeps its
    top ``coarse_probes`` cells — O(n·√k); (3) each vector scores only
    the fine centroids inside its probed cells — expected
    O(n·coarse_probes·√k). Total O(n·√k) vs flat's O(n·k), with
    recall vs the flat assignment pinned in tests/test_dedup.py.
    Every joined relation on the centroid side is broadcast (k rows at
    most) — the corpus never shuffles during assignment."""
    import math

    from ..functions.vectors import dot_expr

    # exact integer ceil-sqrt (isqrt(k-1)+1 ≡ ⌈√k⌉ for k ≥ 1): the
    # DuckDB oracle mirrors this as floor(sqrt(k-1)) + 1, which is safe
    # in IEEE doubles at any realistic k, unlike int(k**0.5 + 0.9999)
    # whose fudge term can straddle an integer boundary.
    k_c = max(2, math.isqrt(max(k - 1, 0)) + 1)
    coarse = centroids.where(F.col("centroid_id") < k_c).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("qv").alias("gv"),
        F.col("nq").alias("ng"),
    )
    # (1) fine → coarse map: tiny cross score, argmax per fine centroid
    fine_scored = centroids.crossJoin(F.broadcast(coarse)).select(
        "centroid_id",
        "coarse_id",
        F.round(
            F.expr(dot_expr("gv", "qv")) / (F.col("ng") * F.col("nq")), 6
        ).alias("f_sim"),
    )
    wf = Window.partitionBy("centroid_id").orderBy(F.desc("f_sim"), F.asc("coarse_id"))
    fine_map = (
        fine_scored.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .select("centroid_id", "coarse_id")
    )
    # (2) vector → probed coarse cells
    vprobe_scored = e.crossJoin(F.broadcast(coarse)).select(
        "vec_id",
        "coarse_id",
        F.round(
            F.expr(dot_expr("gv", "cv")) / (F.col("ng") * F.col("nv")), 6
        ).alias("g_sim"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("g_sim"), F.asc("coarse_id"))
    vprobe = (
        vprobe_scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") <= coarse_probes)
        .select("vec_id", "coarse_id")
    )
    # (3) fine scoring confined to probed cells. The vector arrays
    # (cv, nv) ride through the rank window and OUT of this function:
    # callers need them attached anyway, and re-joining `e` downstream
    # would re-scan + re-transform the whole corpus a third time (the
    # shuffle volume is the same either way — the arrays cross one
    # exchange — but the extra corpus pass isn't).
    cand = vprobe.join(F.broadcast(fine_map), "coarse_id").select("vec_id", "centroid_id")
    cand_scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            "cv",
            "nv",
            F.round(
                F.expr(dot_expr("qv", "cv")) / (F.col("nq") * F.col("nv")), 6
            ).alias("c_sim"),
        )
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    ranked = cand_scored.withColumn("rn", F.row_number().over(wa)).where(
        F.col("rn") <= nassign
    )
    # with_rank=True serves the asymmetric probed blocking, which needs
    # rn to split the home (rn=1) index side from the probe side.
    cols = ["vec_id", "centroid_id", "cv", "nv"] + (["rn"] if with_rank else [])
    return ranked.select(*cols)


#: mid-level probes for the THREE-level assignment — how many probed
#: mid cells each vector keeps before fine scoring (the second recall
#: knob of the hierarchical path; EMBED_COARSE_PROBES remains the
#: first). coarse/mid = 4/8 measures recall 0.985 (sf0.001) and 1.0
#: (sf0.01) vs exact all-pairs at threshold 0.4 (4/4 measured
#: 0.82/0.88 — at fixture-scale k the mid level is most of the
#: selectivity, so it carries the wider probe); floors pinned in
#: tests/test_dedup.py. Cost is linear in the knob
#: (O(n·mid_probes·k^(1/3))), so recall stays cheap to buy.
EMBED_MID_PROBES = 8


def _icbrt_ceil(k: int) -> int:
    """Exact integer ⌈k^(1/3)⌉ with a floor of 2. Float cube roots can
    straddle integer boundaries at perfect cubes, so the float estimate
    is refined by exact integer comparison; the DuckDB oracle mirrors
    this as min(i) over a series WHERE i*i*i >= k."""
    c = max(2, round(k ** (1.0 / 3.0)))
    while c**3 < k:
        c += 1
    while c > 2 and (c - 1) ** 3 >= k:
        c -= 1
    return c


def _three_level_multi_assign(
    e: DataFrame,
    centroids: DataFrame,
    k: int,
    nassign: int,
    coarse_probes: int = EMBED_COARSE_PROBES,
    mid_probes: int = EMBED_MID_PROBES,
    with_rank: bool = False,
) -> DataFrame:
    """(vec_id, centroid_id, cv, nv[, rn]) — coarse→mid→fine assignment:
    decouples per-vector assignment cost from the √k growth the
    TWO-level scorer re-acquires once k itself scales with the corpus
    (k = n/50 makes two-level O(n·√k) = O(n^1.5/√50)). Measured in
    isolation (tools/assign_scaling.py, PLANS.md): 2.81× faster than
    two-level at 1M vectors, growth 53.7× across 20× data — exactly
    the O(n^(4/3)) model; at fixture-scale k the two shapes are within
    noise of each other end-to-end because the query is output-bound
    there.

    Level sizes are balanced thirds: c = ⌈k^(1/3)⌉ coarse cells and
    k_m = min(c², k) mid cells (both lowest-id fine seeds), so EVERY
    routing hop — vector→coarse (c cells), coarse→mid (expected k_m/c
    per cell), mid→fine (expected k/k_m per cell) — scores O(k^(1/3))
    candidates, total O(n·k^(1/3)) vs two-level's O(n·√k).

    The fine→mid codebook map is itself routed through the coarse
    level (each fine centroid probes its top coarse cells and scores
    only the mids inside), so codebook construction is O(k^(4/3)),
    never the O(k^(5/3)) of exact fine×mid scoring — the map stays
    buildable when k reaches the tens of millions a 100 TB corpus
    implies. All centroid-side relations are broadcast (≤ k rows,
    bounded by the literal ``vec_id < k`` filter the seed selection
    declares — the lint-recognized bound); the corpus joins once and its
    arrays ride the mid/fine rank windows, so it is never re-scanned.
    Recall vs the flat (exact) assignment is pinned in
    tests/test_dedup.py."""
    from ..functions.vectors import dot_expr

    c_n = _icbrt_ceil(k)
    k_m = min(c_n * c_n, k)
    coarse = centroids.where(F.col("centroid_id") < c_n).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("qv").alias("gv"),
        F.col("nq").alias("ng"),
    )
    mid = centroids.where(F.col("centroid_id") < k_m).select(
        F.col("centroid_id").alias("mid_id"),
        F.col("qv").alias("mv"),
        F.col("nq").alias("nm"),
    )
    # (1) mid → coarse map: k_m·c scores, centroid-side only
    mid_scored = mid.crossJoin(F.broadcast(coarse)).select(
        "mid_id",
        "coarse_id",
        F.round(
            F.expr(dot_expr("gv", "mv")) / (F.col("ng") * F.col("nm")), 6
        ).alias("mg_sim"),
    )
    wm = Window.partitionBy("mid_id").orderBy(F.desc("mg_sim"), F.asc("coarse_id"))
    mid_map = (
        mid_scored.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("mid_id", "coarse_id")
    )
    # (2) fine → mid map, ROUTED through the coarse level: each fine
    # centroid probes its top coarse cells, then scores only the mids
    # inside them — O(k·k^(1/3)), not exact k·k_m
    fine_coarse_scored = centroids.crossJoin(F.broadcast(coarse)).select(
        "centroid_id",
        "coarse_id",
        F.round(
            F.expr(dot_expr("gv", "qv")) / (F.col("ng") * F.col("nq")), 6
        ).alias("fg_sim"),
    )
    wfc = Window.partitionBy("centroid_id").orderBy(
        F.desc("fg_sim"), F.asc("coarse_id")
    )
    fine_probe = (
        fine_coarse_scored.withColumn("rn", F.row_number().over(wfc))
        .where(F.col("rn") <= coarse_probes)
        .select("centroid_id", "coarse_id")
    )
    fm_scored = (
        fine_probe.join(F.broadcast(mid_map), "coarse_id")
        .join(F.broadcast(centroids), "centroid_id")
        .join(F.broadcast(mid), "mid_id")
        .select(
            "centroid_id",
            "mid_id",
            F.round(
                F.expr(dot_expr("qv", "mv")) / (F.col("nq") * F.col("nm")), 6
            ).alias("fm_sim"),
        )
    )
    wfm = Window.partitionBy("centroid_id").orderBy(F.desc("fm_sim"), F.asc("mid_id"))
    fine_map = (
        fm_scored.withColumn("rn", F.row_number().over(wfm))
        .where(F.col("rn") == 1)
        .select("centroid_id", "mid_id")
    )
    # (3) vector → probed coarse cells (slim: arrays projected away
    # before the rank window — only ids + one score cross the exchange)
    vc_scored = e.crossJoin(F.broadcast(coarse)).select(
        "vec_id",
        "coarse_id",
        F.round(
            F.expr(dot_expr("gv", "cv")) / (F.col("ng") * F.col("nv")), 6
        ).alias("g_sim"),
    )
    wvc = Window.partitionBy("vec_id").orderBy(F.desc("g_sim"), F.asc("coarse_id"))
    vc = (
        vc_scored.withColumn("rn", F.row_number().over(wvc))
        .where(F.col("rn") <= coarse_probes)
        .select("vec_id", "coarse_id")
    )
    # (4) vector → probed mid cells. The corpus joins back ONCE here;
    # from this point the vector arrays (cv, nv) ride the remaining
    # windows out of the function — callers need them attached anyway
    # and a second corpus join would re-scan + re-shuffle more than the
    # array-bearing window exchanges cost (n·O(k^(1/3)) rows each).
    vm_scored = (
        vc.join(F.broadcast(mid_map), "coarse_id")
        .join(e, "vec_id")
        .join(F.broadcast(mid), "mid_id")
        .select(
            "vec_id",
            "mid_id",
            "cv",
            "nv",
            F.round(
                F.expr(dot_expr("mv", "cv")) / (F.col("nm") * F.col("nv")), 6
            ).alias("m_sim"),
        )
    )
    wvm = Window.partitionBy("vec_id").orderBy(F.desc("m_sim"), F.asc("mid_id"))
    vm = (
        vm_scored.withColumn("rn", F.row_number().over(wvm))
        .where(F.col("rn") <= mid_probes)
        .select("vec_id", "mid_id", "cv", "nv")
    )
    # (5) fine scoring confined to probed mid cells
    cand_scored = (
        vm.join(F.broadcast(fine_map), "mid_id")
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            "cv",
            "nv",
            F.round(
                F.expr(dot_expr("qv", "cv")) / (F.col("nq") * F.col("nv")), 6
            ).alias("c_sim"),
        )
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    ranked = cand_scored.withColumn("rn", F.row_number().over(wa)).where(
        F.col("rn") <= nassign
    )
    cols = ["vec_id", "centroid_id", "cv", "nv"] + (["rn"] if with_rank else [])
    return ranked.select(*cols)


def embedding_cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    num_centroids: int | None = None,
    nassign: int = EMBED_BLOCK_NASSIGN,
    assign_mode: str = "flat",
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — embedding near-dup with IVF blocking:
    every vector is multi-assigned to its ``nassign`` nearest seed
    centroids (multi-probe indexing, the recall knob), candidate pairs
    are vectors sharing ≥1 bucket, and exact cosine verifies only those.

    This is the 100 TB shape: candidate generation is O(n·k) against a
    broadcast centroid relation (bounded — never an unbounded
    crossJoin), the only wide shuffle keys on ``centroid_id``, and the
    quadratic term is confined within buckets. With the default
    corpus-scaled centroid count the expected bucket population is the
    constant ``DOCS_PER_CENTROID``, so total verify cost is LINEAR in
    corpus size. L2 norms are computed once per vector (not once per
    pair) and reused by both the assignment scoring and the verify.
    Cross-bucket pairs are missed by construction — recall vs the exact
    all-pairs form ([[embedding_cosine_pairs]], kept as the test-scale
    baseline) is pinned in tests/test_dedup.py.
    """
    from ..functions.vectors import dot_expr, with_norm

    if num_centroids is None:
        # fallback for raw DataFrames with no metadata in reach: one
        # count action. The declared query path threads the count from
        # parquet footer metadata (tables.table_row_count) instead, so
        # its plan runs as ONE job.
        num_centroids = embed_block_num_centroids(embeddings.count())

    e = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cv"),
    ).transform(lambda d: with_norm(d, "cv", "nv"))
    # the literal-bound filter (vec_id < num_centroids on a unique id)
    # IS the structural-bound declaration the broadcast-policy lint
    # recognizes — a mid-plan .limit would add a GlobalLimit +
    # single-partition exchange, a real funnel at corpus-scaled k
    centroids = e.where(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("cv").alias("qv"),
        F.col("nv").alias("nq"),
    )
    # same IEEE sequence as functions.vectors.cosine_expr: the
    # precomputed norm IS sqrt(dot(v, v)), so dot/(nq*nv) is bit-equal.
    # attach vectors to the assignments ONCE and score inside the
    # bucket self-join, projecting the arrays away immediately — the
    # only array-bearing shuffle is the |corpus|·nassign bucket
    # relation, never the candidate-pair fan-out. A pair sharing
    # several buckets scores identically in each, so the groupBy-max
    # dedup is exact (equivalent to distinct-candidates-then-verify).
    # Both self-join sides read this relation — persist it so the
    # centroid-scoring + window pipeline runs once, not twice (no
    # ReusedExchange fires here: the two sides project different
    # aliases before the bucket-key partitioning). The two-level
    # assignment already carries (cv, nv) through its rank window, so
    # only the flat path re-attaches them (a second corpus pass the
    # two-level path avoids).
    if assign_mode == "flat":
        bucketed = retain(_flat_multi_assign(e, centroids, nassign).join(e, "vec_id"))
    elif assign_mode == "two_level":
        bucketed = retain(_two_level_multi_assign(e, centroids, num_centroids, nassign))
    elif assign_mode == "three_level":
        bucketed = retain(
            _three_level_multi_assign(e, centroids, num_centroids, nassign)
        )
    else:
        raise ValueError(f"unknown assign_mode {assign_mode!r}")
    a = bucketed.select(
        "centroid_id",
        F.col("vec_id").alias("vec_a"),
        F.col("cv").alias("va"),
        F.col("nv").alias("na"),
    )
    b = bucketed.select(
        "centroid_id",
        F.col("vec_id").alias("vec_b"),
        F.col("cv").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        a.join(b, "centroid_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                F.expr(dot_expr("va", "vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


#: query-side probe width for the ASYMMETRIC (IVF-search-shaped)
#: near-dup blocking: each vector is indexed under its single nearest
#: centroid (home bucket) and queries its ``nprobe`` nearest centroids'
#: buckets. Verify cost is O(n · nprobe · DOCS_PER_CENTROID) — LINEAR
#: in nprobe, vs the symmetric multi-assign's QUADRATIC
#: O(n · nassign² · DOCS_PER_CENTROID) bucket self-join — so recall is
#: cheap to buy: nprobe=12 measures recall 1.0 vs exact all-pairs at
#: threshold 0.4 on sf0.001/sf0.01 (floor pinned in tests/test_dedup.py)
#: at ~half the symmetric nassign=5 verify volume (600n vs 1250n pairs).
EMBED_PROBE_NPROBE = 12


def embedding_cosine_pairs_probed(
    embeddings: DataFrame,
    threshold: float,
    num_centroids: int | None = None,
    nprobe: int = EMBED_PROBE_NPROBE,
    assign_mode: str = "flat",
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — embedding near-dup with ASYMMETRIC
    IVF probing, the textbook IVF-search shape applied to dedup: every
    vector is INDEXED once under its nearest centroid (home bucket) and
    QUERIES its ``nprobe`` nearest centroids; candidates are
    (query, indexed) vectors meeting in a bucket, verified by exact
    cosine. A pair (a,b) is found when b's home bucket is among a's
    probes or vice versa — ordered via least/greatest so each surviving
    pair appears once.

    Why this beats the symmetric multi-assign
    ([[embedding_cosine_pairs_blocked]], kept as the library variant):
    the index side holds n rows (one home bucket each), so expected
    candidates are n·nprobe·DOCS_PER_CENTROID — linear in the recall
    knob — while the symmetric bucket self-join pays
    n·nassign²·DOCS_PER_CENTROID, quadratic in its knob. At equal
    measured recall (1.0 @ threshold 0.4) the probed plan verifies
    ~half the pairs and scales its recall knob 5× cheaper. Same single
    wide shuffle keyed on ``centroid_id``; centroid scoring is one
    broadcast nested loop + one per-vector window (rank ≤ nprobe, the
    home bucket is rank 1 of the same pass — no second scoring)."""
    from ..functions.vectors import dot_expr, with_norm

    if num_centroids is None:
        # fallback for raw DataFrames (one count action); the declared
        # query threads the parquet-footer count instead — one job.
        num_centroids = embed_block_num_centroids(embeddings.count())

    e = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cv"),
    ).transform(lambda d: with_norm(d, "cv", "nv"))
    # the literal-bound filter (vec_id < num_centroids on a unique id)
    # IS the structural-bound declaration the broadcast-policy lint
    # recognizes — a mid-plan .limit would add a GlobalLimit +
    # single-partition exchange, a real funnel at corpus-scaled k
    centroids = e.where(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("cv").alias("qv"),
        F.col("nv").alias("nq"),
    )
    # one ranked pass serves both sides: rn=1 is the home (index)
    # assignment, rn≤nprobe the query probes. ``assign_mode`` picks the
    # scorer: "three_level" (the declared/oracle-mirrored form) routes
    # through the balanced coarse→mid→fine quantizer (O(n·k^(1/3)))
    # and carries the vector arrays through its rank windows, so the
    # corpus is never re-scanned to re-attach them; "two_level"
    # (O(n·√k)) is the intermediate hierarchical variant; "flat"
    # (library variant, exact O(n·k)) scores all k centroids on an
    # array-free stream and re-attaches arrays with one join. Either
    # way the persisted relation below is read by BOTH the home and
    # probe sides.
    if assign_mode == "flat":
        scored = e.crossJoin(F.broadcast(centroids)).select(
            "vec_id",
            "centroid_id",
            F.round(
                F.expr(dot_expr("cv", "qv")) / (F.col("nv") * F.col("nq")), 6
            ).alias("c_sim"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
        ranked_ids = scored.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= nprobe
        )
        ranked = retain(ranked_ids.join(e, "vec_id"))
    elif assign_mode == "two_level":
        ranked = retain(
            _two_level_multi_assign(e, centroids, num_centroids, nprobe, with_rank=True)
        )
    elif assign_mode == "three_level":
        ranked = retain(
            _three_level_multi_assign(
                e, centroids, num_centroids, nprobe, with_rank=True
            )
        )
    else:
        raise ValueError(f"unknown assign_mode {assign_mode!r}")
    home = ranked.where(F.col("rn") == 1).select(
        "centroid_id",
        F.col("vec_id").alias("vec_h"),
        F.col("cv").alias("vh"),
        F.col("nv").alias("nh"),
    )
    probes = ranked.select(
        "centroid_id",
        F.col("vec_id").alias("vec_p"),
        F.col("cv").alias("vp"),
        F.col("nv").alias("np_"),
    )
    return (
        probes.join(home, "centroid_id")
        .where(F.col("vec_p") != F.col("vec_h"))
        .select(
            F.least("vec_p", "vec_h").alias("vec_a"),
            F.greatest("vec_p", "vec_h").alias("vec_b"),
            F.round(
                F.expr(dot_expr("vp", "vh")) / (F.col("np_") * F.col("nh")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


#: ceiling on the (both-orientations) edge-relation row count for the
#: driver union-find fast path: 200k narrow tuples is a few MB —
#: trivially driver-safe, chosen ORDERS below driver memory, not near
#: it. Above the cap the distributed min-label loop runs unchanged —
#: the 100 TB posture, where near-dup edge sets are corpus-sized.
CC_DRIVER_EDGE_CAP = 200_000


def _cc_driver_unionfind(edges: DataFrame) -> DataFrame:
    """Exact same fixpoint as the distributed loop — cluster_id = min
    node id per component — via union-find with path compression on the
    COLLECTED edge list. Justified only under CC_DRIVER_EDGE_CAP (the
    caller checks): near-dup components at bench scale are a few
    hundred edges, and the distributed loop's cost there is pure
    job-count latency (measured 4-6 s for 747 edges — ~12 tiny
    jobs/checkpoints), not data. Min-root union keeps the smallest id
    as every root, so labels match the loop's least()-semantics for
    numeric AND string ids."""
    spark = edges.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    # Null-keyed edges are silently dropped by the distributed loop's
    # join semantics; drop them here too so the two branches agree on
    # degenerate input regardless of edge count (and so Python '<'
    # never compares None against an id).
    for a, b in edges.collect():
        if a is None or b is None:
            continue
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra

    node_type = edges.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", node_type),
            T.StructField("cluster_id", node_type),
        ]
    )
    return spark.createDataFrame(
        [(n, find(n)) for n in parent], schema
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 20, driver_edge_cap: int | None = None
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup pairs:
    min-label propagation iterated to fixpoint (cluster_id = smallest
    doc_id in the component, the conventional keep-representative).

    SMALL-GRAPH FAST PATH: the edge relation is materialized (and
    counted) before the loop anyway; when the count is under
    :data:`CC_DRIVER_EDGE_CAP` the labeling runs as a driver union-find
    (:func:`_cc_driver_unionfind`) — identical fixpoint, none of the
    loop's per-round checkpoint/aggregate jobs, which dominate wall
    time on tiny graphs (measured: 747 edges cost 4-6 s of pure
    scheduler latency in the loop vs ~0.1 s collected). Pair
    GENERATION stays fully distributed either way; only the labeling
    of an already-counted, cap-bounded edge list collects. Tests force
    the distributed branch with ``driver_edge_cap=0``; equality of the
    two paths is pinned on multi-component numeric and string graphs.

    Iterative-algorithm shape (Spark has no recursive CTE): a driver
    loop of joins with per-round persist and a converged-count action.
    Each round combines the one-hop neighbor minimum with POINTER
    JUMPING (label ← label of my label), so propagation distance
    DOUBLES per round and ``max_iter`` rounds cover components of
    diameter 2^max_iter — a 20+-variant chain (e.g. serial-numbered
    entity names) converges in ~5 rounds instead of silently stopping
    mid-propagation at the round cap, which would split one component
    into several and diverge from the exact recursive-CTE oracles.
    Near-dup components are tiny in practice (2-3 rounds).

    ``edges`` is retained in the query scope; per-round label
    relations are CHECKPOINTED (see the in-loop comment) — their blocks
    release at driver GC of the underlying RDDs rather than via
    unpersist, a bounded rounds × |labels| cost per call.
    """
    # both orientations via ONE narrow explode, not union(swap): a
    # union references the (possibly expensive — embedding pairs cost
    # seconds at bench scale, a full candidate-generation pass at
    # 100 TB) pairs subtree TWICE in the materialization job, doubling
    # its computation; the explode scans it once.
    # Null-keyed pairs are dropped WHOLE before dispatch (r8 ADVICE):
    # previously the loop's join semantics dropped the propagation but
    # still seeded the non-null endpoint as a self-labeled singleton,
    # while the union-find fast path raised TypeError comparing None —
    # the branches diverged on degenerate input depending solely on
    # edge count. One upstream filter gives both branches the same
    # edge set (a near-dup pair with a null doc id is garbage either
    # way; callers own their null policy).
    edges = retain(
        pairs.where(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    # Materialize edges ONCE, in one clean job, BEFORE anything
    # references it (the loop scans it once per round; four concurrent
    # scans through a lazily-populated cache inside round 0's first job
    # recompute the expensive pairs subtree per scan. Measured on a 4×
    # corpus: 373 s → ~30 s for the identical fixpoint, entirely from
    # this ordering). The count doubles as the fast-path dispatch.
    n_edges = edges.count()
    cap = CC_DRIVER_EDGE_CAP if driver_edge_cap is None else driver_edge_cap
    if n_edges <= cap:
        return _cc_driver_unionfind(edges)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels.count()
    from pyspark.sql.types import NumericType

    numeric_labels = isinstance(labels.schema["label"].dataType, NumericType)
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer jump: my label's CURRENT label (labels self-joined on
        # label = node). Nodes whose label is already a root (or is not
        # a node, e.g. the component min) coalesce to their own label.
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        hop = labels.join(nbr_min, labels["node"] == nbr_min["src"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # Checkpointing BOTH materializes the round and TRUNCATES
        # logical lineage: labels is referenced three times per round
        # (neighbor min, jump source, jump target), so without
        # truncation the analyzed plan grows ~3^rounds and the analyzer
        # itself becomes the bottleneck long before the data does
        # (cached-plan persist alone does not cut lineage). When the
        # session has a RELIABLE checkpoint dir configured (the cluster
        # deployment posture: HDFS-backed, survives executor loss) use
        # checkpoint(); otherwise localCheckpoint() — executor-local
        # blocks, fine for local mode, lost-executor reruns the job.
        # Either way the blocks are freed at driver GC of the RDD, not
        # by DataFrame.unpersist (a no-op on checkpointed plans) — a
        # bounded, driver-lifetime cost of rounds × |labels|.
        stepped = hop.join(jump, hop["label"] == jump["jnode"], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("jlabel", "label")
            ).alias("label"),
        )
        # SECOND pointer jump in the same round: each jump is one more
        # tiny join over the (cached, pairs-sized) label relation —
        # negligible build cost next to the per-round checkpoint job —
        # but propagation distance goes ×4 per round instead of ×2, so
        # a chain-shaped component (sequential near-dups: vec i ~
        # vec i+1, the shape the embedding fixture actually contains)
        # halves its round count. Fixpoint is unchanged: min-label
        # jumping is idempotent, extra jumps never overshoot.
        stepped = stepped.join(
            jump, stepped["label"] == jump["jnode"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("jlabel", "label")
            ).alias("label"),
        )
        spark_ctx = stepped.sparkSession.sparkContext
        if spark_ctx.getCheckpointDir() is not None:
            new_labels = stepped.checkpoint()
        else:
            new_labels = stepped.localCheckpoint()
        # convergence check without a join — NUMERIC node ids only:
        # labels only ever DECREASE (both update rules take
        # least(current, ...)), so Σlabel is strictly monotone until
        # the fixpoint and equal sums ⟺ no node changed. One aggregate
        # over the just-checkpointed relation replaces the
        # join-and-count job (one fewer shuffle per round at any
        # scale). DECIMAL(38,0) sum: exact at any node count × id
        # magnitude — a 64-bit sum could overflow silently at 100 TB
        # ids and fake convergence. STRING node ids (entity resolution
        # runs CC over text keys) have no monotone numeric image —
        # casting them yields NULL sums that fake instant convergence
        # (caught by the q_entity_resolution oracle) — so they keep
        # the explicit changed-row join.
        if numeric_labels:
            label_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).first()["s"]
            done = label_sum == prev_sum
            prev_sum = label_sum
        else:
            done = (
                labels.withColumnRenamed("label", "old_label")
                .join(new_labels, "node")
                .where(F.col("old_label") != F.col("label"))
                .count()
                == 0
            )
        labels.unpersist()  # real release round 1; no-op on checkpointed rounds
        labels = new_labels
        if done:
            break
    # the returned lazy plan reads the final checkpointed labels
    # (unpersist is a no-op on them: blocks free at driver GC)
    register(labels)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def wordset_fingerprint(text_col: str = "text"):
    """md5 over the sorted distinct word set — a content-defined
    fingerprint that is order- and multiplicity-insensitive (two docs
    using the same vocabulary collide, which is exactly the coarse
    "same material, reshuffled" notion an ingest filter wants). Fully
    narrow: split → distinct → sort → join → md5, no shuffle."""
    return F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), " "))
            ),
            " ",
        )
    )


def incremental_dedup(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """New-batch-vs-corpus dedup: drop batch docs whose fingerprint
    already exists in the corpus (left-anti join on the 32-byte digest,
    never the bodies), then keep min doc_id per fingerprint within the
    batch itself. This is the steady-state ingest path at 100 TB: the
    corpus side reduces to a fingerprint set (one narrow projection of
    a bucketed fingerprint table), and only digests shuffle."""
    fp = wordset_fingerprint()
    corpus_fp = corpus.select(fp.alias("fingerprint")).distinct()
    batch_fp = batch.select("doc_id", fp.alias("fingerprint"))
    return (
        batch_fp.join(corpus_fp, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_batch_copies"))
        .select("keep_id", "n_batch_copies")
    )


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents split into an existing corpus (doc_id % 4 != 0) and an
    incoming batch (doc_id % 4 == 0); return the batch survivors."""
    documents = load_table(spark, sf_dir, "documents")
    corpus = documents.where(F.col("doc_id") % 4 != 0)
    batch = documents.where(F.col("doc_id") % 4 == 0)
    return incremental_dedup(corpus, batch).orderBy("keep_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, keep min doc_id.
    One shuffle on the text hash; at 100 TB the md5 key (32 bytes)
    shuffles instead of the document bodies."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _lsh_pairs_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH verified pairs WITHOUT the presentation sort —
    consumers that aggregate or cluster (connected components, degree
    stats, triangles) must not inherit a useless global range-exchange
    baked into their cached edge relation."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    # the per-doc set relation feeds signatures (narrow) and the verify
    # joins — persist the 1-row-per-doc arrays (MEMORY_AND_DISK: spills
    # instead of OOMing at large SF).
    sets = retain(shingle_sets(documents))
    candidates = lsh_candidate_pairs(minhash_signatures(sets))
    return verify_candidates(sets, candidates, JACCARD_THRESHOLD)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → 8-hash signature →
    4 bands → bucket-join candidates → jaccard-verified pairs."""
    return _lsh_pairs_unordered(spark, sf_dir).orderBy("doc_a", "doc_b")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard dedup over the DF-CAPPED inverted shingle
    index: candidate pairs share ≥1 shingle with document frequency ≤
    NGRAM_MAX_DF (bounded posting lists — no quadratic bucket), then
    the exact jaccard is verified against the FULL shingle sets, so
    surviving pairs carry their true uncapped similarity. The fully
    uncapped form stays available as :func:`jaccard_pairs` (the recall
    baseline the LSH variant is judged against in tests/test_dedup.py).

    The per-doc distinct shingle arrays are built ONCE (narrow
    shingle_sets — no distinct Exchange) and persisted: the candidate
    index reads them via explode, the verify joins read them as
    arrays. The input is widened CONDITIONALLY: the fixture is a
    single parquet split, which would serialize the per-row shingle
    build on one core — but at warehouse scale the scan already yields
    thousands of splits and ensure_scan_parallelism is a no-op (no
    unconditional full-corpus text shuffle baked into the plan)."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    sets = retain(shingle_sets(documents, with_digests=False))
    return ngram_jaccard_pairs_pruned(sets, JACCARD_THRESHOLD).orderBy(
        "doc_a", "doc_b"
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric excerpt dedup: ordered (contained, container) pairs
    with shingle-set containment ≥ CONTAINMENT_THRESHOLD over the same
    df-capped inverted index as the jaccard query. Catches the
    quote/excerpt duplication mode symmetric jaccard is blind to."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    sets = retain(shingle_sets(documents, with_digests=False))
    return containment_pairs_pruned(sets, CONTAINMENT_THRESHOLD).orderBy(
        "doc_a", "doc_b"
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return simhash(documents).orderBy("doc_id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: per-doc hashes → banded buckets →
    hamming-verified pairs (the full simhash dedup path)."""
    documents = load_table(spark, sf_dir, "documents")
    hashes = retain(simhash(documents))
    return simhash_pairs(hashes).orderBy("doc_a", "doc_b")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs → connected components → (doc_id, cluster_id).
    The full keep/drop decision surface of a dedup pipeline: keep
    cluster_id (the min doc), drop the rest."""
    pairs = _lsh_pairs_unordered(spark, sf_dir)
    return connected_components(pairs).orderBy("doc_id")


def docs_with_clusters(documents: DataFrame, cc: DataFrame) -> DataFrame:
    """(doc_id, n_chars, cluster_id) — every document LEFT-joined to its
    CC cluster label, singletons coalesced to their own doc_id. THE
    singleton convention, defined once: q_dedup_canonical, the
    leakage-safe split, and their tests all consume this helper so the
    convention cannot silently diverge (review r11)."""
    return (
        documents.select("doc_id", "n_chars")
        .join(cc, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop decision surface with CANONICAL selection:
    LSH near-dup pairs → connected components → every document joins
    its cluster (singletons are their own cluster), and the canonical
    representative is the LONGEST member (n_chars desc, doc_id asc
    tie-break) — the "keep the richest copy" policy curation pipelines
    apply, vs :func:`q_dedup_clusters`'s min-id convention which keeps
    whichever copy happened to arrive first.

    Scale shape: the CC label relation is near-dup-pairs-sized (tiny
    vs corpus); the corpus joins it once (broadcast-able at real dup
    rates) and the canonical argmax is one window over cluster_id —
    a single corpus-linear exchange."""
    documents = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs_unordered(spark, sf_dir)
    full = docs_with_clusters(documents, connected_components(pairs))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        full.withColumn("canonical_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed embedding near-dup — the production plan: bounded
    candidate generation (broadcast centroid scoring, one bucket-keyed
    shuffle, no unbounded crossJoin) with the ASYMMETRIC home/probe
    blocking of :func:`embedding_cosine_pairs_probed` (recall vs exact
    all-pairs measured and floor-pinned in tests/test_dedup.py; the
    symmetric multi-assign and exact all-pairs forms stay available as
    library functions).

    Centroid ASSIGNMENT is the hierarchical coarse→mid→fine quantizer
    (``assign_mode="three_level"``, O(n·k^(1/3))) — with the
    corpus-scaled centroid count k = n/50, the flat scorer's O(n·k)
    term is O(n²/50) and the two-level scorer's O(n·√k) re-acquires
    √n growth (isolated assignment measurement: two-level 387.5s vs
    three-level 138.0s at 1M vectors, tools/assign_scaling.py), so
    the DECLARED plan is the balanced-thirds shape whose every
    routing hop scores O(k^(1/3)) cells, and the oracle mirrors the
    coarse→mid→fine CTEs exactly (VERDICT r4 item 3; r8 item 6; the
    end-to-end 30× corpus walls are output-bound — 243-406× pair
    growth — so the assignment exponent is the isolated number,
    PLANS.md round 9).

    The centroid count comes from parquet FOOTER metadata (the
    table-stats lookup a catalog provides at warehouse scale), not a
    ``count()`` action — the whole query runs as one job."""
    return _embedding_pairs_unordered(spark, sf_dir).orderBy("vec_a", "vec_b")


def _embedding_pairs_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_embedding without the presentation sort — the clustering
    consumer must not cache a range-exchange it never needed.

    NOT widened (r13 optimization round, measured): only the FIRST
    coarse hop of the three-level assignment runs on the raw scan —
    every heavier hop sits behind a window shuffle and already fans
    out — so conditional widening here bought nothing and its extra
    round-robin exchange re-executed in every consumer job
    (interleaved A/B vs the unwidened tree: ratio 1.09; contrast
    q_dedup_hyperplane_lsh, where the whole scoring pass runs on the
    raw scan and the same widen measured 0.875)."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    k = embed_block_num_centroids(table_row_count(sf_dir, "embeddings"))
    return embedding_cosine_pairs_probed(
        embeddings, COSINE_DUP_THRESHOLD, num_centroids=k, assign_mode="three_level"
    )


#: segment width (in words) for sub-document dedup — the C4-style
#: granularity knob (C4 dedups at three-sentence spans; the fixture
#: corpus has no sentence punctuation, so fixed word windows stand in).
SEGMENT_WORDS = 20


def segment_dedup(documents: DataFrame, seg_words: int = SEGMENT_WORDS) -> DataFrame:
    """(doc_id, clean_text, n_segments, n_dropped) — SUB-document exact
    dedup, the C4-style pass that removes boilerplate spans repeated
    across documents while keeping the rest of each document: text
    splits into fixed ``seg_words``-word segments (narrow), each
    segment survives only in its corpus-wide FIRST occurrence (min
    doc_id, then min position — deterministic), and each document is
    reassembled from its surviving segments in order.

    Scale shape: narrow split/explode → ONE dedup shuffle keyed on the
    32-char segment digest (bodies don't ride the first-occurrence
    decision; the window reads (digest → min (doc_id, seg_idx)) pairs)
    → one reassembly aggregate keyed on doc_id. Both shuffles are the
    minimum the semantics admit; this is how line-level dedup actually
    runs at 100 TB."""
    words = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    segs_expr = (
        f"transform(sequence(0, greatest(cast(ceil(size(w) / {seg_words}.0) as int) - 1, 0)), "
        f"i -> concat_ws(' ', slice(w, i * {seg_words} + 1, {seg_words})))"
    )
    segs = words.select(
        "doc_id", F.posexplode(F.expr(segs_expr)).alias("seg_idx", "seg_text")
    ).where(F.col("seg_text") != "")
    hashed = segs.withColumn("seg_hash", F.md5("seg_text"))
    w_first = Window.partitionBy("seg_hash").orderBy(
        F.asc("doc_id"), F.asc("seg_idx")
    )
    survivors = (
        hashed.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .select("doc_id", "seg_idx", "seg_text")
    )
    per_doc_total = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments")
    )
    return (
        survivors.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_idx", "seg_text"))
                    ),
                    lambda s: s["seg_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(per_doc_total, "doc_id")
        .select(
            "doc_id",
            "clean_text",
            "n_segments",
            (F.col("n_segments") - F.col("n_kept")).alias("n_dropped"),
        )
    )


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup over the documents corpus: repeated
    20-word spans survive only at their first corpus occurrence; docs
    whose every segment is boilerplate vanish entirely."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    return segment_dedup(documents).orderBy("doc_id")


SPAN_GRAM = 8


def duplicated_span_profile(
    documents: DataFrame, gram_words: int = SPAN_GRAM
) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, n_spans, dup_ratio) — exact
    repeated-substring profiling, the relational form of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token is
    "duplicated" iff it is covered by some ``gram_words``-token
    window whose text occurs MORE THAN ONCE in the whole corpus
    (across documents or repeated within one). Output is the per-doc
    duplicated-token coverage — the number a curation pipeline
    thresholds on to drop or trim boilerplate-heavy documents —
    plus the count of maximal contiguous duplicated spans.

    Dataflow (vs the reference's single-machine suffix array, which
    cannot shard): every position's gram is hashed narrowly
    (16-hex-char md5 prefix, 64 bits — keeps the shuffle rows
    narrow), ONE count shuffle finds grams with corpus frequency
    ≥ 2 (map-side combine collapses each partition's repeats first),
    one join brings positions back, and interval union runs per-doc
    via the classic running-max islands window. Positions within a
    doc are unique, so the window state is O(1) per row. This is the
    scale shape: no all-pairs step anywhere, every stage keyed or
    per-doc.

    Docs shorter than ``gram_words`` tokens contribute no windows
    (sequence() would flip descending on a negative bound — guarded
    with an explicit CASE) and report dup_tokens = 0."""
    words = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    totals = words.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
    grams_expr = (
        f"CASE WHEN size(w) >= {gram_words} THEN "
        f"transform(sequence(0, size(w) - {gram_words}), "
        f"i -> substring(md5(concat_ws(' ', slice(w, i + 1, {gram_words}))), 1, 16)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    pos = words.select(
        "doc_id", F.posexplode(F.expr(grams_expr)).alias("pos", "gh")
    )
    pos = retain(pos)
    dup = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("gh")
    )
    hits = pos.join(dup, "gh").select(
        "doc_id", "pos", (F.col("pos") + gram_words - 1).alias("e")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_prev = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    islands = hits.withColumn(
        "prev_max_e", F.max("e").over(w_prev)
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull()
            | (F.col("pos") > F.col("prev_max_e") + 1),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_doc))
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            6,
        ).alias("dup_ratio"),
    )


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring coverage per document (Lee et al.-style
    substring dedup as a relational plan): which fraction of each doc's
    tokens sits inside an 8-token window that occurs ≥2 times in the
    corpus. One row per document, zero-coverage docs included."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    return duplicated_span_profile(documents).orderBy("doc_id")


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy incremental dedup — the steady-state ingest gate a
    training pipeline actually runs: drop incoming-batch docs that are
    NEAR-duplicates (jaccard ≥ threshold) of any existing-corpus doc,
    not just byte-identical ones ([[q_dedup_incremental]] is the exact
    twin). Same split as the exact variant: corpus = doc_id % 4 != 0,
    batch = doc_id % 4 == 0; returns surviving batch doc_ids.

    Scale shape: signatures and band buckets are built narrowly over
    the UNION once (one shared shingle/signature pass); candidate
    generation is the batch-bands ⨝ corpus-bands join keyed on (band,
    bucket) — the corpus side at 100 TB is a precomputed banded index
    table, so each arriving batch joins against buckets, never against
    corpus documents; verify touches only colliding pairs, and the
    keep-decision is a left-anti join on matched batch ids."""
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    sets = retain(shingle_sets(documents))
    bands = lsh_bands(minhash_signatures(sets))
    batch_bands = bands.where(F.col("doc_id") % 4 == 0)
    corpus_bands = bands.where(F.col("doc_id") % 4 != 0)
    cand = (
        batch_bands.alias("x")
        .join(corpus_bands.alias("y"), ["band_id", "band_key"])
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    matched = (
        verify_candidates(sets, cand, JACCARD_THRESHOLD)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return (
        documents.where(F.col("doc_id") % 4 == 0)
        .select("doc_id")
        .join(matched, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs → connected components → per-vector
    cluster assignment — the keep/drop decision surface of SEMANTIC
    dedup (keep cluster_id = the min vec in each component), composing
    the IVF-blocked pair generation with the iterative min-label
    propagation. The textual-twin oracle is the blocked-pair SQL
    spliced into a recursive transitive-closure CTE."""
    pairs = _embedding_pairs_unordered(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return (
        connected_components(pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
        words AS (
            SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
            FROM (SELECT doc_id, w,
                         unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                  FROM words)
        )
"""

_MINHASH_CHUNK = 32 // NUM_MINHASH

_MINHASH_COLS = ", ".join(
    f"min(substr(md5(shingle), {j * _MINHASH_CHUNK + 1}, {_MINHASH_CHUNK})) AS mh{j}"
    for j in range(NUM_MINHASH)
)

_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', mh{2*b}, mh{2*b+1})) AS band_key FROM sig"
    for b in range(NUM_BANDS)
)

_JACCARD_CORE = """
        sizes AS (
            SELECT doc_id, count(1) AS n_shingles FROM shingles GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS n_common
            FROM shingles a JOIN shingles b ON a.shingle = b.shingle
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
"""

_SIMHASH_SCORES = ", ".join(
    "sum(n * (2 * (((instr('0123456789abcdef', substr(md5(word), {pos}, 1)) - 1) // {div}) % 2) - 1)) AS s{b}".format(
        pos=b // 4 + 1, div=2 ** (b % 4), b=b
    )
    for b in range(16)
)

_SIMHASH_COMBINE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16)
)

ORACLES: dict[str, str] = {
    "q_dedup_exact": """
        SELECT min(doc_id) AS keep_id, count(1)::BIGINT AS n_copies
        FROM documents GROUP BY md5(lower(trim(text)))
    """,
    "q_dedup_incremental": """
        WITH fp AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(lower(trim(text)), ' '))), ' ')) AS fingerprint
            FROM documents
        ),
        corpus AS (
            SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 != 0
        )
        SELECT min(doc_id) AS keep_id, count(1)::BIGINT AS n_batch_copies
        FROM fp
        WHERE doc_id % 4 = 0
          -- NOT EXISTS, never NOT IN: a NULL fingerprint (md5 of NULL
          -- text) makes NOT IN drop the row — or empty the whole
          -- result from the corpus side — where Spark's left_anti
          -- keeps it (the anti-join lockstep rule).
          AND NOT EXISTS (
              SELECT 1 FROM corpus c WHERE c.fingerprint = fp.fingerprint
          )
        GROUP BY fingerprint
        ORDER BY keep_id
    """,
    "q_dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id, {_MINHASH_COLS} FROM shingles GROUP BY doc_id
        ),
        bands AS ({_BAND_SELECTS}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band_id = y.band_id AND x.band_key = y.band_key
            WHERE x.doc_id < y.doc_id
        ),
        {_JACCARD_CORE}
        SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
               CAST(n_common AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
        FROM inter i
        JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
        ORDER BY 1, 2
    """,
    # textual mirror of the df-capped candidate index: pairs must share
    # ≥1 shingle with document frequency ≤ NGRAM_MAX_DF; the jaccard
    # itself is still computed from the FULL shingle sets.
    "q_dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        capped AS (
            SELECT doc_id, shingle FROM shingles
            QUALIFY count(1) OVER (PARTITION BY shingle) <= {NGRAM_MAX_DF}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b ON a.shingle = b.shingle
            WHERE a.doc_id < b.doc_id
        ),
        {_JACCARD_CORE}
        SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
               CAST(n_common AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
        FROM inter i
        JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    # textual twin of containment_pairs_pruned: identical candidate
    # blocking (df-capped shared shingle), exact asymmetric verify —
    # containment = |S_a ∩ S_b| / |S_a|, both orientations.
    "q_dedup_containment": f"""
        WITH {_SHINGLES_CTE},
        capped AS (
            SELECT doc_id, shingle FROM shingles
            QUALIFY count(1) OVER (PARTITION BY shingle)
                    BETWEEN 2 AND {NGRAM_MAX_DF}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b ON a.shingle = b.shingle
            WHERE a.doc_id <> b.doc_id
        ),
        sizes AS (
            SELECT doc_id, count(1) AS n_shingles FROM shingles GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS n_common
            FROM shingles a JOIN shingles b ON a.shingle = b.shingle
            WHERE a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
               CAST(n_common AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE) AS containment
        FROM inter i
        JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON i.doc_a = sa.doc_id
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE)
              >= {CONTAINMENT_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "q_dedup_simhash": f"""
        WITH wc AS (
            SELECT doc_id, word, count(1) AS n
            FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
                  FROM documents)
            GROUP BY doc_id, word
        ),
        scored AS (
            SELECT doc_id, {_SIMHASH_SCORES} FROM wc GROUP BY doc_id
        )
        SELECT doc_id, ({_SIMHASH_COMBINE})::INT AS simhash
        FROM scored ORDER BY doc_id
    """,
    "q_dedup_simhash_pairs": f"""
        WITH wc AS (
            SELECT doc_id, word, count(1) AS n
            FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
                  FROM documents)
            GROUP BY doc_id, word
        ),
        scored AS (
            SELECT doc_id, {_SIMHASH_SCORES} FROM wc GROUP BY doc_id
        ),
        hashes AS (
            SELECT doc_id, ({_SIMHASH_COMBINE})::INT AS simhash FROM scored
        ),
        bands AS (
            SELECT doc_id, simhash, b.band_id,
                   (simhash >> (b.band_id * 4)) % 16 AS band_key
            FROM hashes, (VALUES (0), (1), (2), (3)) b(band_id)
        )
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               bit_count(xor(x.simhash, y.simhash))::INT AS hamming
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
        WHERE x.doc_id < y.doc_id
          AND bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """,
    # transitive closure via recursive CTE == min-label propagation
    # fixpoint (cluster id = min reachable doc id).
    "q_dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({{LSH_PAIRS}}) t
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        reach(node, root) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id, min(root)::BIGINT AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id
    """,
    # exact textual mirror of the ASYMMETRIC IVF probing with the
    # THREE-LEVEL (coarse→mid→fine) assignment of
    # _three_level_multi_assign: corpus-scaled centroid count via the
    # same max(MIN, n // DOCS_PER) formula, c = ⌈k^(1/3)⌉ coarse cells
    # (min i with i³ ≥ k — exact integer, mirroring _icbrt_ceil),
    # k_m = least(c², k) mid cells; each mid maps to its nearest
    # coarse cell, each fine centroid routes through its top
    # EMBED_COARSE_PROBES coarse cells to its nearest mid, each vector
    # probes coarse (top EMBED_COARSE_PROBES) then mid (top
    # EMBED_MID_PROBES) then ranks only the fine centroids inside;
    # rank 1 = home (index) bucket, rank ≤ nprobe = query probes;
    # candidates pair probes with homes; cosine verify.
    "q_dedup_embedding": f"""
        WITH params AS (
            SELECT greatest({EMBED_BLOCK_MIN_CENTROIDS},
                            count(*) // {EMBED_BLOCK_DOCS_PER_CENTROID}) AS k
            FROM embeddings
        ),
        lvls AS (
            -- exact ⌈k^(1/3)⌉: the float estimate is within ±1 of the
            -- true root for any double-safe k, so the min candidate in
            -- a ±2 window with c³ ≥ k is exact (mirrors _icbrt_ceil)
            SELECT k,
                   greatest(2, (SELECT min(cast(round(pow(k, 1.0 / 3.0)) AS BIGINT) + v.d)
                                FROM (VALUES (-2), (-1), (0), (1), (2)) v(d)
                                WHERE (cast(round(pow(k, 1.0 / 3.0)) AS BIGINT) + v.d) >= 1
                                  AND (cast(round(pow(k, 1.0 / 3.0)) AS BIGINT) + v.d)
                                      * (cast(round(pow(k, 1.0 / 3.0)) AS BIGINT) + v.d)
                                      * (cast(round(pow(k, 1.0 / 3.0)) AS BIGINT) + v.d) >= k)) AS c
            FROM params
        ),
        lvls2 AS (SELECT k, c, least(c * c, k) AS km FROM lvls),
        corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS qv
            FROM embeddings
            WHERE vec_id < (SELECT k FROM lvls2)
        ),
        mid AS (
            SELECT centroid_id AS mid_id, qv AS mv FROM cent
            WHERE centroid_id < (SELECT km FROM lvls2)
        ),
        coarse AS (
            SELECT centroid_id AS coarse_id, qv AS gv FROM cent
            WHERE centroid_id < (SELECT c FROM lvls2)
        ),
        mid_map AS (
            SELECT mid_id, coarse_id FROM (
                SELECT m.mid_id, g.coarse_id,
                       row_number() OVER (
                           PARTITION BY m.mid_id
                           ORDER BY round(list_cosine_similarity(g.gv, m.mv), 6) DESC,
                                    g.coarse_id
                       ) AS rn
                FROM mid m CROSS JOIN coarse g
            ) WHERE rn = 1
        ),
        fine_probe AS (
            SELECT centroid_id, coarse_id FROM (
                SELECT f.centroid_id, g.coarse_id,
                       row_number() OVER (
                           PARTITION BY f.centroid_id
                           ORDER BY round(list_cosine_similarity(g.gv, f.qv), 6) DESC,
                                    g.coarse_id
                       ) AS rn
                FROM cent f CROSS JOIN coarse g
            ) WHERE rn <= {EMBED_COARSE_PROBES}
        ),
        fine_map AS (
            SELECT centroid_id, mid_id FROM (
                SELECT p.centroid_id, m.mid_id,
                       row_number() OVER (
                           PARTITION BY p.centroid_id
                           ORDER BY round(list_cosine_similarity(k2.qv, m.mv), 6) DESC,
                                    m.mid_id
                       ) AS rn
                FROM fine_probe p
                JOIN mid_map mm ON mm.coarse_id = p.coarse_id
                JOIN mid m ON m.mid_id = mm.mid_id
                JOIN cent k2 ON k2.centroid_id = p.centroid_id
            ) WHERE rn = 1
        ),
        vprobe AS (
            SELECT vec_id, coarse_id FROM (
                SELECT c0.vec_id, g.coarse_id,
                       row_number() OVER (
                           PARTITION BY c0.vec_id
                           ORDER BY round(list_cosine_similarity(g.gv, c0.cv), 6) DESC,
                                    g.coarse_id
                       ) AS rn
                FROM corpus c0 CROSS JOIN coarse g
            ) WHERE rn <= {EMBED_COARSE_PROBES}
        ),
        vmid AS (
            SELECT vec_id, mid_id FROM (
                SELECT v.vec_id, m.mid_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY round(list_cosine_similarity(m.mv, c0.cv), 6) DESC,
                                    m.mid_id
                       ) AS rn
                FROM vprobe v
                JOIN mid_map mm ON mm.coarse_id = v.coarse_id
                JOIN mid m ON m.mid_id = mm.mid_id
                JOIN corpus c0 ON c0.vec_id = v.vec_id
            ) WHERE rn <= {EMBED_MID_PROBES}
        ),
        ranked AS (
            SELECT vec_id, centroid_id, rn
            FROM (
                SELECT v.vec_id, fm.centroid_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY round(list_cosine_similarity(k2.qv, c0.cv), 6) DESC,
                                    fm.centroid_id
                       ) AS rn
                FROM vmid v
                JOIN fine_map fm ON fm.mid_id = v.mid_id
                JOIN corpus c0 ON c0.vec_id = v.vec_id
                JOIN cent k2 ON k2.centroid_id = fm.centroid_id
            ) WHERE rn <= {EMBED_PROBE_NPROBE}
        ),
        home AS (
            SELECT vec_id, centroid_id FROM ranked WHERE rn = 1
        ),
        cand AS (
            SELECT DISTINCT least(p.vec_id, h.vec_id) AS vec_a,
                            greatest(p.vec_id, h.vec_id) AS vec_b
            FROM ranked p JOIN home h ON p.centroid_id = h.centroid_id
            WHERE p.vec_id != h.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.vec_a
        JOIN embeddings b ON b.vec_id = c.vec_b
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {COSINE_DUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}

# splice the LSH-pair oracle into the clusters oracle as a subquery
ORACLES["q_dedup_clusters"] = ORACLES["q_dedup_clusters"].replace(
    "{LSH_PAIRS}", ORACLES["q_dedup_minhash_lsh"]
)

# C4-style segment dedup: fixed word windows, first-occurrence keep,
# ordered reassembly — textual mirror of segment_dedup.
ORACLES["q_dedup_segments"] = f"""
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(w[i * {SEGMENT_WORDS} + 1 : i * {SEGMENT_WORDS} + {SEGMENT_WORDS}], ' ') AS seg_text
        FROM (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                       greatest(cast(ceil(len(w) / {SEGMENT_WORDS}.0) AS INT) - 1, 0))) AS i
            FROM words
        )
        WHERE array_to_string(w[i * {SEGMENT_WORDS} + 1 : i * {SEGMENT_WORDS} + {SEGMENT_WORDS}], ' ') != ''
    ),
    survivors AS (
        SELECT doc_id, seg_idx, seg_text
        FROM segs
        QUALIFY row_number() OVER (
            PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
        ) = 1
    ),
    totals AS (
        SELECT doc_id, count(1)::BIGINT AS n_segments FROM segs GROUP BY doc_id
    )
    SELECT s.doc_id,
           string_agg(s.seg_text, ' ' ORDER BY s.seg_idx) AS clean_text,
           any_value(t.n_segments) AS n_segments,
           (any_value(t.n_segments) - count(1))::BIGINT AS n_dropped
    FROM survivors s JOIN totals t ON s.doc_id = t.doc_id
    GROUP BY s.doc_id
    ORDER BY s.doc_id
"""

# batch-vs-corpus LSH near-dup: same signature/band CTEs as the
# self-join oracle, but candidates pair batch (doc_id%4=0) bands with
# corpus (doc_id%4!=0) bands, and survivors are batch docs with no
# verified near-dup.
ORACLES["q_dedup_incremental_lsh"] = f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_MINHASH_COLS} FROM shingles GROUP BY doc_id
    ),
    bands AS ({_BAND_SELECTS}),
    cand AS (
        SELECT DISTINCT x.doc_id AS b_id, y.doc_id AS c_id
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
        WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 != 0
    ),
    sizes AS (
        SELECT doc_id, count(1) AS n_shingles FROM shingles GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS b_id, b.doc_id AS c_id, count(1) AS n_common
        FROM shingles a JOIN shingles b ON a.shingle = b.shingle
        WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 != 0
        GROUP BY 1, 2
    ),
    matched AS (
        SELECT DISTINCT i.b_id
        FROM inter i
        JOIN cand c ON i.b_id = c.b_id AND i.c_id = c.c_id
        JOIN sizes sa ON i.b_id = sa.doc_id
        JOIN sizes sb ON i.c_id = sb.doc_id
        WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE)
              >= {JACCARD_THRESHOLD}
    )
    SELECT doc_id FROM documents
    WHERE doc_id % 4 = 0
      -- NOT EXISTS per the anti-join lockstep rule (b_id is never NULL
      -- today, but NOT IN's NULL semantics are a standing trap)
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.b_id = documents.doc_id)
    ORDER BY doc_id
"""

# embedding clusters: the blocked-pair oracle spliced into the same
# recursive transitive-closure CTE the LSH clusters use.
ORACLES["q_dedup_embedding_clusters"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({ORACLES["q_dedup_embedding"]}) t
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, root) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, min(root)::BIGINT AS cluster_id
    FROM reach GROUP BY node ORDER BY vec_id
"""

# canonical selection: every document LEFT-joined to its CC cluster
# (singletons are their own cluster), canonical = longest member
# (n_chars desc, doc_id asc). The recursive-CTE cluster body is the
# clusters oracle minus its presentation ORDER BY.
ORACLES["q_dedup_canonical"] = f"""
    WITH cc AS ({ORACLES["q_dedup_clusters"].rsplit("ORDER BY", 1)[0]}),
    full_docs AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           first_value(doc_id) OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
           ) AS canonical_id,
           (doc_id = first_value(doc_id) OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
           ))::INT AS keep
    FROM full_docs ORDER BY doc_id
"""

def q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(detector, n_pairs) — agreement matrix between the two
    independent near-dup detectors (MinHash-LSH jaccard-verified pairs
    vs SimHash banded-hamming pairs): how many pairs both find, and
    how many each finds alone. The diagnostic a curation pipeline
    reads before trusting one detector's deletions — a detector whose
    'only' bucket dwarfs 'both' is either noisier or measuring a
    different notion of similarity (16-bit SimHash over a tiny shared
    vocabulary is the noisy one here, and the numbers show it).

    Scale shape: both inputs are the already-bucketed declared plans
    (banded joins, never all-pairs); the consensus is ONE full-outer
    join on the pair key plus a 3-group aggregate."""
    lsh = (
        _lsh_pairs_unordered(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("in_lsh", F.lit(1))
    )
    # the hash relation is retained: the bands read it twice
    documents = load_table(spark, sf_dir, "documents")
    sim = (
        simhash_pairs(retain(simhash(documents)))
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("in_sim", F.lit(1))
    )
    joined = lsh.join(sim, ["doc_a", "doc_b"], "full_outer")
    return (
        joined.select(
            F.when(
                F.col("in_lsh").isNotNull() & F.col("in_sim").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("in_lsh").isNotNull(), F.lit("minhash_only"))
            .otherwise(F.lit("simhash_only"))
            .alias("detector")
        )
        .groupBy("detector")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("detector")
    )


def q_quality_dup_xtab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(quality_band, n_docs, n_neardup, neardup_rate) — the
    quality-vs-duplication cross-tab: for each heuristic quality band,
    what share of documents participates in at least one verified
    MinHash near-dup pair. The standard curation sanity check that
    duplication concentrates where quality filtering already cuts
    (and the joint-policy input when it doesn't). Near-dup membership
    is the distinct doc set of the banded LSH pairs — hits-sized, one
    semi-join against the per-doc quality relation."""
    from .text import quality_features

    documents = load_table(spark, sf_dir, "documents")
    quality = quality_features(documents).select("doc_id", "quality_band")
    pairs = _lsh_pairs_unordered(spark, sf_dir)
    members = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct().withColumn("is_dup", F.lit(1))
    return (
        quality.join(members, "doc_id", "left")
        .groupBy("quality_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_neardup"),
            F.round(
                F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
                / F.count(F.lit(1)),
                6,
            ).alias("neardup_rate"),
        )
        .orderBy("quality_band")
    )


ORACLES["q_dedup_substrings"] = f"""
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ),
    totals AS (
        SELECT doc_id, len(w)::BIGINT AS n_tokens FROM words
    ),
    pos AS (
        SELECT doc_id, i AS pos,
               substring(md5(array_to_string(
                   list_slice(w, i + 1, i + {SPAN_GRAM}), ' ')), 1, 16) AS gh
        FROM words, unnest(range(0, len(w) - {SPAN_GRAM} + 1)) AS t(i)
    ),
    dup AS (
        SELECT gh FROM pos GROUP BY gh HAVING count(*) > 1
    ),
    hits AS (
        SELECT p.doc_id, p.pos, p.pos + {SPAN_GRAM} - 1 AS e
        FROM pos p JOIN dup d USING (gh)
    ),
    iv AS (
        SELECT doc_id, pos, e,
               max(e) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_e
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN prev_max_e IS NULL OR pos > prev_max_e + 1
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS island
        FROM iv
    ),
    spans AS (
        SELECT doc_id, island, min(pos) AS s, max(e) AS e
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, sum(e - s + 1)::BIGINT AS dup_tokens,
               count(*)::BIGINT AS n_spans
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens,
           coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(p.n_spans, 0)::BIGINT AS n_spans,
           round(coalesce(p.dup_tokens, 0) / nullif(t.n_tokens, 0), 6)
               AS dup_ratio
    FROM totals t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
"""

ORACLES["q_dedup_consensus"] = f"""
    WITH lshq AS ({{LSH}}),
    simq AS ({{SIM}}),
    l AS (SELECT DISTINCT doc_a, doc_b FROM lshq),
    s AS (SELECT DISTINCT doc_a, doc_b FROM simq),
    j AS (
        SELECT l.doc_a IS NOT NULL AS in_l, s.doc_a IS NOT NULL AS in_s
        FROM l FULL OUTER JOIN s
          ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
    )
    SELECT CASE WHEN in_l AND in_s THEN 'both'
                WHEN in_l THEN 'minhash_only'
                ELSE 'simhash_only' END AS detector,
           count(*)::BIGINT AS n_pairs
    FROM j GROUP BY 1 ORDER BY detector
"""

ORACLES["q_quality_dup_xtab"] = """
    WITH lshq AS ({LSH}),
    quality AS ({QUALITY}),
    members AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_a AS doc_id FROM lshq
              UNION ALL SELECT doc_b FROM lshq)
    )
    SELECT q.quality_band,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_neardup,
           round(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 / count(*), 6) AS neardup_rate
    FROM quality q LEFT JOIN members m USING (doc_id)
    GROUP BY q.quality_band ORDER BY q.quality_band
"""


def _finalize_composite_oracles() -> None:
    """Splice the component oracles (minus their presentation ORDER BY)
    into the consensus/cross-tab oracle templates — one source of truth
    for the component SQL, same pattern as q_dedup_canonical."""
    lsh_body = ORACLES["q_dedup_minhash_lsh"].rsplit("ORDER BY", 1)[0]
    sim_body = ORACLES["q_dedup_simhash_pairs"].rsplit("ORDER BY", 1)[0]
    ORACLES["q_dedup_consensus"] = ORACLES["q_dedup_consensus"].format(
        LSH=lsh_body, SIM=sim_body
    )
    from .text import ORACLES as TEXT_ORACLES

    quality_body = TEXT_ORACLES["q_text_quality"].rsplit("ORDER BY", 1)[0]
    ORACLES["q_quality_dup_xtab"] = ORACLES["q_quality_dup_xtab"].format(
        LSH=lsh_body, QUALITY=quality_body
    )


# ---------------------------------------------------------------------------
# hyperplane LSH (SimHash for vectors, Charikar 2002) — the third
# embedding-blocking family: no codebook/centroid derivation at all
# ---------------------------------------------------------------------------

#: band count — the recall knob of the hyperplane family (a pair is a
#: candidate when ANY band's full bit-key matches). Collision
#: probability per band is (1 − θ/π)^bits, so recall at a FIXED band
#: count falls with pair angle: the fixture's planted near-dups all
#: sit at borderline cosine 0.4-0.6 (θ ≈ 55-66°, per-plane agreement
#: ~0.63) — the hardest regime for this family — and 10 bands measure
#: recall 0.83 there on both gate SFs (6 bands measured 0.62/0.69;
#: floor ≥0.75 pinned in tests/test_dedup.py). Candidate + verify cost
#: is LINEAR in bands, the cheap axis.
HYPERPLANE_BANDS = 10
#: target expected bucket population. bits-per-band is derived from it
#: (2^bits ≈ n / TARGET), so buckets hold ~TARGET vectors at ANY corpus
#: size — candidate volume stays O(n · bands · TARGET), linear, without
#: the df-cap the token-space LSH needs (key space here is sizable by
#: construction; a shingle vocabulary is not).
HYPERPLANE_TARGET_POP = 32


def _ilog2_ceil(x: int) -> int:
    """Exact integer ⌈log2(x)⌉ with a floor of 1 — float log2 can
    straddle integer boundaries at powers of two; the DuckDB oracle
    mirrors the same ±2-window refinement."""
    import math

    b = max(1, round(math.log2(max(x, 2))))
    while (1 << b) < x:
        b += 1
    while b > 1 and (1 << (b - 1)) >= x:
        b -= 1
    return b


def hyperplane_bits(n_rows: int) -> int:
    """bits per band for an n-row corpus: smallest b with 2^b ≥
    n / HYPERPLANE_TARGET_POP (the formula the oracle mirrors)."""
    return _ilog2_ceil(max(n_rows // HYPERPLANE_TARGET_POP, 2))


def hyperplane_band_keys(
    embeddings: DataFrame, bits: int, bands: int = HYPERPLANE_BANDS
) -> DataFrame:
    """(vec_id, band_id, band_key) — random-hyperplane signatures,
    banded: plane p's bit is sign(cos(v, plane_p)) ≥ 0, packed
    per-band into an integer key (bit i of band b is plane b·bits+i).
    Planes are the first ``bands·bits`` corpus vectors (deterministic
    seed-plane scheme, same idiom as the IVF seed centroids — at
    production scale a trained/random plane matrix drops in without
    changing the plan shape).

    Scale shape: one broadcast nested-loop score of n·P plane bits
    (P = bands·bits grows with log n), one groupBy keyed on
    (vec_id, band_id) to pack keys — no corpus self-join until the
    banded candidate step, whose buckets hold ~HYPERPLANE_TARGET_POP
    vectors by construction of ``hyperplane_bits``."""
    from ..functions.vectors import dot_expr, with_norm

    n_planes = bands * bits
    e = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cv"),
    ).transform(lambda d: with_norm(d, "cv", "nv"))
    planes = (
        e.where(F.col("vec_id") < n_planes)
        .select(
            F.col("vec_id").alias("plane_id"),
            F.col("cv").alias("pv"),
            F.col("nv").alias("np_"),
        )
    )
    scored = e.crossJoin(F.broadcast(planes)).select(
        "vec_id",
        (F.col("plane_id") / bits).cast("int").alias("band_id"),
        (F.col("plane_id") % bits).cast("int").alias("pos"),
        (
            F.round(
                F.expr(dot_expr("pv", "cv")) / (F.col("np_") * F.col("nv")), 6
            )
            >= 0
        )
        .cast("long")
        .alias("bit"),
    )
    return scored.groupBy("vec_id", "band_id").agg(
        F.expr("sum(shiftleft(bit, pos))").alias("band_key")
    )


def embedding_cosine_pairs_hyperplane(
    embeddings: DataFrame,
    threshold: float,
    n_rows: int,
    bands: int = HYPERPLANE_BANDS,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — embedding near-dup via hyperplane LSH:
    candidates share at least one full band key, verified by exact
    cosine. The third blocking family next to the probed IVF
    ([[embedding_cosine_pairs_probed]], the DECLARED near-dup plan) and
    exact all-pairs: NO codebook or centroid derivation — signatures
    are data-independent given the planes, so ingest is stateless and
    embarrassingly parallel (the property that makes this the classic
    streaming-ingest-side index). Probability a pair collides decays
    with angle (per-plane agreement 1 − θ/π), so recall at a fixed
    band count FALLS as bits grow with log n — the documented
    trade against the IVF family, whose recall knob is scale-free;
    recall vs exact all-pairs is floor-pinned in tests/test_dedup.py."""
    from ..functions.vectors import dot_expr, with_norm

    bits = hyperplane_bits(n_rows)
    keys = hyperplane_band_keys(embeddings, bits, bands)
    cand = (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    e = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cv"),
    ).transform(lambda d: with_norm(d, "cv", "nv"))
    va = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cv").alias("ca"),
        F.col("nv").alias("na"),
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cv").alias("cb"),
        F.col("nv").alias("nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                F.expr(dot_expr("ca", "cb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def q_dedup_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane LSH (vector SimHash): the
    codebook-free blocking family, for the ingest shapes where even a
    seed-centroid scoring pass is unwanted state. Corpus size comes
    from parquet footer metadata (one job, like the IVF path)."""
    embeddings = ensure_scan_parallelism(
        load_table(spark, sf_dir, "embeddings"), spark
    )
    n = table_row_count(sf_dir, "embeddings")
    return embedding_cosine_pairs_hyperplane(
        embeddings, COSINE_DUP_THRESHOLD, n
    ).orderBy("vec_a", "vec_b")


ORACLES["q_dedup_hyperplane_lsh"] = f"""
    WITH params AS (SELECT count(*) AS n FROM embeddings),
    bitsq AS (
        -- exact ⌈log2(x)⌉, x = greatest(n // {HYPERPLANE_TARGET_POP}, 2):
        -- ±2 window around the float estimate, integer-compared
        -- (mirrors _ilog2_ceil)
        SELECT greatest(1, (SELECT min(cast(round(log2(greatest(n // {HYPERPLANE_TARGET_POP}, 2))) AS BIGINT) + v.d)
                            FROM (VALUES (-2), (-1), (0), (1), (2)) v(d)
                            WHERE (cast(round(log2(greatest(n // {HYPERPLANE_TARGET_POP}, 2))) AS BIGINT) + v.d) >= 1
                              AND (1::BIGINT << (cast(round(log2(greatest(n // {HYPERPLANE_TARGET_POP}, 2))) AS BIGINT) + v.d))
                                  >= greatest(n // {HYPERPLANE_TARGET_POP}, 2))) AS bits
        FROM params
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    planes AS (
        SELECT vec_id AS plane_id, embedding::DOUBLE[] AS pv FROM embeddings
        WHERE vec_id < {HYPERPLANE_BANDS} * (SELECT bits FROM bitsq)
    ),
    bits_tbl AS (
        SELECT c.vec_id,
               p.plane_id // (SELECT bits FROM bitsq) AS band_id,
               p.plane_id % (SELECT bits FROM bitsq) AS pos,
               CASE WHEN round(list_cosine_similarity(p.pv, c.cv), 6) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM corpus c CROSS JOIN planes p
    ),
    keys AS (
        SELECT vec_id, band_id, sum(bit::BIGINT << pos)::BIGINT AS band_key
        FROM bits_tbl GROUP BY vec_id, band_id
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM keys a JOIN keys b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.vec_a
    JOIN embeddings b ON b.vec_id = c.vec_b
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {COSINE_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
"""


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_simhash_pairs": q_dedup_simhash_pairs,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_canonical": q_dedup_canonical,
    "q_dedup_embedding": q_dedup_embedding,
    "q_dedup_incremental_lsh": q_dedup_incremental_lsh,
    "q_dedup_embedding_clusters": q_dedup_embedding_clusters,
    "q_dedup_segments": q_dedup_segments,
    "q_dedup_substrings": q_dedup_substrings,
    "q_dedup_consensus": q_dedup_consensus,
    "q_quality_dup_xtab": q_quality_dup_xtab,
    "q_dedup_hyperplane_lsh": q_dedup_hyperplane_lsh,
}

_finalize_composite_oracles()

BENCH = [
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    # asymmetric excerpt dedup — shares the capped index's cost shape
    "q_dedup_containment",
    "q_dedup_simhash",
    # IVF-blocked plan — bench-safe (bounded candidates, no n² crossJoin)
    "q_dedup_embedding",
    # batch-vs-corpus banded join — the steady-state ingest-gate cost
    "q_dedup_incremental_lsh",
    # exact batch-vs-corpus gate (bench coverage itself is guaranteed
    # by the registry top-up; this entry only places it in sweep order)
    "q_dedup_incremental",
    # C4-style sub-document dedup — two bounded shuffles
    "q_dedup_segments",
    # repeated-substring coverage — one count shuffle + per-doc windows
    "q_dedup_substrings",
]
