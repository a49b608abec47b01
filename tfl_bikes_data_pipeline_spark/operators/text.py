"""Text-analysis operators over the ``documents`` table.

Training-data pipeline staples, all pure JVM-side expressions (split /
higher-order array functions / regexp — no Python in the hot path, so
the plans stay inside whole-stage codegen and scale linearly):

- language ID        : stopword-marker scoring (n-gram-free heuristic;
                       deterministic argmax with fixed precedence)
- quality scoring    : length / punctuation / stopword-ratio features
                       with a CASE quality band
- token counting     : whitespace tokens + a BPE-ish regex token count
- doc fingerprinting : bottom-k sketch of shingle hashes (winnowing-
                       style content signature)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scope import retain
from ..tables import load_table

#: marker stopwords per language — deterministic tie order en>es>de>fr.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "in", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "est"),
}

EN_STOPWORDS = LANG_MARKERS["en"]

#: whitespace spelled out EXPLICITLY instead of \s: Java regex \s is
#: [ \t\n\x0B\f\r] but RE2 (DuckDB) \s EXCLUDES \x0B — a vertical tab
#: in a document silently diverged the two engines' token counts.
#: Both engines parse the \t/\n/\x0B/\f/\r escapes identically.
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

FINGERPRINT_K = 3
FP_SHINGLE = 5


def _words(col: str = "text") -> str:
    return f"split(lower(trim({col})), ' ')"


def _with_words(documents: DataFrame) -> DataFrame:
    """Project the tokenization to a concrete column once. Catalyst does
    not common-subexpression-eliminate a repeated ``split(...)`` across
    expressions (and never into higher-order-function lambdas), so every
    downstream operator references ``w`` instead of re-splitting."""
    return documents.withColumn("w", F.expr(_words()))


def _marker_count_expr(markers: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return f"size(filter(w, t -> array_contains(array({arr}), t)))"


def lang_id(documents: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, score) — argmax of per-language marker-word
    counts; 'und' when no marker matches. Fixed precedence for ties."""
    scores = _with_words(documents).select(
        "doc_id",
        *[F.expr(_marker_count_expr(m)).alias(f"s_{lang}") for lang, m in LANG_MARKERS.items()],
    )
    langs = list(LANG_MARKERS)
    return scores.select(
        "doc_id",
        F.expr(_langid_case_sql()).alias("pred_lang"),
        F.greatest(*[F.col(f"s_{l}") for l in langs]).cast("int").alias("score"),
    )


def _langid_case_sql() -> str:
    """CASE chain shared verbatim (modulo dialect-neutral syntax) by the
    Spark plan and the DuckDB oracle, so tie-breaking is identical:
    first language in precedence order with the max (nonzero) score."""
    langs = list(LANG_MARKERS)
    arms = []
    for i, lang in enumerate(langs):
        others = [f"s_{lang} >= s_{o}" for o in langs if o != lang]
        arms.append(
            f"WHEN s_{lang} > 0 AND {' AND '.join(others)} THEN '{lang}'"
        )
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


def quality_features(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, avg_word_len, punct_ratio, stopword_ratio,
    quality_band). All ratios are exact-integer divisions → engine-
    identical doubles."""
    stop_arr = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    return _with_words(documents).select(
        "doc_id",
        F.expr("size(w)").cast("int").alias("n_words"),
        F.expr(
            "CAST(length(replace(lower(trim(text)), ' ', '')) AS DOUBLE) / size(w)"
        ).alias("avg_word_len"),
        # nullif guard: text = '' would be a 0/0 — ANSI Spark raises
        # where DuckDB yields NULL; NULL-on-empty on BOTH sides instead.
        F.expr(
            "CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '')) AS DOUBLE)"
            " / nullif(length(text), 0)"
        ).alias("punct_ratio"),
        F.expr(
            f"CAST(size(filter(w, x -> array_contains(array({stop_arr}), x))) AS DOUBLE)"
            " / size(w)"
        ).alias("stopword_ratio"),
    ).withColumn(
        "quality_band",
        F.when((F.col("n_words") >= 40) & (F.col("stopword_ratio") >= 0.05), "high")
        .when(F.col("n_words") >= 15, "mid")
        .otherwise("low"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens) — whitespace tokenization vs
    a BPE-ish regex ([a-z]+ | digit runs | single punctuation)."""
    return _with_words(documents).select(
        "doc_id",
        F.expr("size(w)").cast("int").alias("ws_tokens"),
        # pattern passed as a lit Column (not through a SQL string
        # literal, whose parser would eat the backslash in \s)
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("int")
        .alias("bpe_ish_tokens"),
    )


TFIDF_TOP_K = 3


def tfidf_top_terms(documents: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """(doc_id, term, rank) — top-k characteristic terms per document by
    TF-IDF. tf = in-doc term count; idf = N/df. Since N is a positive
    per-corpus constant, ranking by tf·N/df is EXACTLY ranking by
    tf/df — computed as one division of exact integers, so both
    engines produce the identical double and the identical order (and
    no corpus count() is needed at all). The earlier (tf·N desc,
    df asc) lexicographic form was NOT equivalent: it ranked by raw
    term frequency with df only as a tie-break, surfacing stopwords
    over characteristic terms. Deterministic tie-break (df asc,
    term asc) covers equal ratios (e.g. 1/2 vs 2/4).

    Plan shape: one explode+count per (doc, term) [shuffle on doc_id]
    — retained, since the document-frequency dimension aggregates the
    same relation the join probes — then a per-doc top-k window: the
    standard distributed TF-IDF, linear in corpus size.
    """
    words = documents.select(
        "doc_id", F.explode(F.expr(_words())).alias("term")
    )
    tf = retain(words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf").cast("double") / F.col("df")), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_rel, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", F.col("rank").cast("int").alias("rank"))
    )


# Both engines (Java regex / RE2) agree on this character-class-only
# subset — no backrefs, no lookaround, so the scrub is portable.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_NUM_RE = r"[0-9]{3,}"


def scrub_pii(df: DataFrame, text_col) -> DataFrame:
    """Adds (n_emails, n_nums, scrubbed): emails → ``<EMAIL>`` first,
    then 3+-digit runs → ``<NUM>`` (ordering matters — addresses contain
    digits). Narrow per-row regex work, fully codegen'd JVM-side: the
    scrub adds zero shuffles to an ingest pipeline at any scale."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    no_mail = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    return df.withColumns(
        {
            "n_emails": F.regexp_count(col, F.lit(PII_EMAIL_RE)).cast("int"),
            "n_nums": F.regexp_count(no_mail, F.lit(PII_NUM_RE)).cast("int"),
            "scrubbed": F.regexp_replace(no_mail, PII_NUM_RE, "<NUM>"),
        }
    )


def fingerprints(documents: DataFrame, k: int = FINGERPRINT_K, n: int = FP_SHINGLE) -> DataFrame:
    """(doc_id, fingerprint) — bottom-k sketch: md5 over word n-gram
    shingles, keep the k smallest digests, join with ','. Rolling-hash
    flavored content signature; identical docs (and docs differing only
    outside their minimal shingles) collide."""
    shingles = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(0, size(w) - {n}), i -> md5(concat_ws(' ', slice(w, i + 1, {n})))) "
        f"ELSE array(md5(lower(trim(text)))) END"
    )
    return _with_words(documents).select(
        "doc_id",
        F.expr(
            f"concat_ws(',', slice(array_sort(array_distinct({shingles})), 1, {k}))"
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _marker_count_duck(markers: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter(string_split(lower(trim(text)), ' '), "
        f"w -> list_contains([{arr}], w)))"
    )


_LANG_SCORES_DUCK = ", ".join(
    f"{_marker_count_duck(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items()
)

_STOP_ARR = ", ".join(f"'{s}'" for s in EN_STOPWORDS)

ORACLES: dict[str, str] = {
    "q_text_langid": f"""
        WITH scores AS (
            SELECT doc_id, {_LANG_SCORES_DUCK} FROM documents
        )
        SELECT doc_id, {_langid_case_sql()} AS pred_lang,
               greatest(s_en, s_es, s_de, s_fr)::INT AS score
        FROM scores ORDER BY doc_id
    """,
    "q_text_quality": f"""
        WITH feats AS (
            SELECT doc_id,
                   len(string_split(lower(trim(text)), ' '))::INT AS n_words,
                   CAST(length(replace(lower(trim(text)), ' ', '')) AS DOUBLE)
                       / len(string_split(lower(trim(text)), ' ')) AS avg_word_len,
                   CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                       / nullif(length(text), 0) AS punct_ratio,
                   CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                            x -> list_contains([{_STOP_ARR}], x))) AS DOUBLE)
                       / len(string_split(lower(trim(text)), ' ')) AS stopword_ratio
            FROM documents
        )
        SELECT doc_id, n_words, avg_word_len, punct_ratio, stopword_ratio,
               CASE WHEN n_words >= 40 AND stopword_ratio >= 0.05 THEN 'high'
                    WHEN n_words >= 15 THEN 'mid' ELSE 'low' END AS quality_band
        FROM feats ORDER BY doc_id
    """,
    "q_token_count": f"""
        SELECT doc_id,
               len(string_split(lower(trim(text)), ' '))::INT AS ws_tokens,
               len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}'))::INT AS bpe_ish_tokens
        FROM documents ORDER BY doc_id
    """,
    "q_doc_fingerprint": f"""
        WITH words AS (
            SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(w) >= {FP_SHINGLE} THEN
                       list_transform(generate_series(1, len(w) - {FP_SHINGLE} + 1),
                           i -> md5(array_to_string(w[i:i+{FP_SHINGLE}-1], ' ')))
                   ELSE [md5(lower(trim(text)))] END AS hashes
            FROM words
        )
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(hashes))[1:{FINGERPRINT_K}], ',') AS fingerprint
        FROM sh ORDER BY doc_id
    """,
}

def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id", "rank"
    )


ORACLES["q_text_tfidf"] = f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(1) AS tf FROM words GROUP BY 1, 2
    ),
    dfr AS (
        SELECT term, count(1) AS df FROM tf GROUP BY 1
    )
    SELECT doc_id, term, rank FROM (
        SELECT tf.doc_id, tf.term,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf::DOUBLE / dfr.df DESC, dfr.df ASC, tf.term ASC
               )::INT AS rank
        FROM tf JOIN dfr ON tf.term = dfr.term
    ) t WHERE rank <= {TFIDF_TOP_K}
    ORDER BY doc_id, rank
"""

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus carries no organic PII, so the query plants
    a deterministic contact line per document (address + reference
    number derived from doc_id) and verifies the scrub end-to-end via
    match counts and a digest of the scrubbed text."""
    documents = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref 555"),
        F.col("doc_id").cast("string"),
    )
    return (
        scrub_pii(documents.withColumn("aug", aug), "aug")
        .select(
            "doc_id",
            "n_emails",
            "n_nums",
            F.md5("scrubbed").alias("scrub_hash"),
        )
        .orderBy("doc_id")
    )


ORACLES["q_pii_scrub"] = f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR ||
                   '@example.com ref 555' || doc_id::VARCHAR AS aug
        FROM documents
    ),
    no_mail AS (
        SELECT doc_id, aug,
               regexp_replace(aug, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS no_mail
        FROM aug
    )
    SELECT doc_id,
           len(regexp_extract_all(aug, '{PII_EMAIL_RE}'))::INT AS n_emails,
           len(regexp_extract_all(no_mail, '{PII_NUM_RE}'))::INT AS n_nums,
           md5(regexp_replace(no_mail, '{PII_NUM_RE}', '<NUM>', 'g')) AS scrub_hash
    FROM no_mail
    ORDER BY doc_id
"""


QUERIES = {
    "q_text_langid": q_text_langid,
    "q_text_quality": q_text_quality,
    "q_token_count": q_token_count,
    "q_doc_fingerprint": q_doc_fingerprint,
    "q_text_tfidf": q_text_tfidf,
    "q_pii_scrub": q_pii_scrub,
}

BENCH = ["q_text_quality", "q_doc_fingerprint", "q_text_tfidf"]


def bigram_rel(documents: DataFrame) -> DataFrame:
    """(doc_id, bigram) WITH duplicates — frequency-weighted, unlike
    the distinct shingle relation dedup uses."""
    words = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    # element_at (1-based, matching DuckDB list indexing) per the
    # lockstep rule — not w[i] (0-based in Spark SQL), whose matching
    # oracle needs a shifted index range and invites off-by-one drift.
    bigrams = (
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return words.select("doc_id", F.explode(F.expr(bigrams)).alias("bigram"))


def bigram_quality(documents: DataFrame) -> DataFrame:
    """LM-proxy quality score: how 'typical' each document's bigrams
    are of the corpus. Two aggregates + one join, all integers until
    the final exact long/long division:

    1. corpus bigram frequencies (one shuffle on bigram);
    2. doc score = Σ freq(bigram) / n_bigrams over the doc's bigrams.

    Repetitive/boilerplate docs score high, lexically odd docs score
    low — the cheap statistical stand-in for model-based quality
    filters, entirely engine-portable (no log/exp: integer sums and a
    single double division). At 100 TB the bigram join is skewed by
    stop-bigrams ('of the') — compose with skew.salted_join, or prune
    the head of the frequency table into a broadcast map. The exploded
    bigram stream is retained: the frequency aggregate reads the same
    relation the join probes (without the cache the corpus would be
    re-scanned and re-exploded twice)."""
    rel = retain(bigram_rel(documents))
    freqs = rel.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    return (
        rel.join(freqs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("freq").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "freq_sum",
            (F.col("freq_sum").cast("double") / F.col("n_bigrams").cast("double")).alias(
                "avg_freq"
            ),
        )
    )


def q_text_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_quality(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLES["q_text_bigram_quality"] = """
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    bigrams AS (
        SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS bigram
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
              FROM words)
    ),
    freqs AS (
        SELECT bigram, count(1) AS freq FROM bigrams GROUP BY bigram
    )
    SELECT b.doc_id, count(1)::BIGINT AS n_bigrams,
           sum(f.freq)::BIGINT AS freq_sum,
           CAST(sum(f.freq) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_freq
    FROM bigrams b JOIN freqs f USING (bigram)
    GROUP BY b.doc_id ORDER BY b.doc_id
"""

QUERIES["q_text_bigram_quality"] = q_text_bigram_quality
BENCH.append("q_text_bigram_quality")


#: Gopher-style repetition gates (Rae et al. 2021 §A1.1 analogues):
#: documents dominated by one word or by repeated n-grams are
#: boilerplate/spam and get filtered before training.
TOP_WORD_FRAC_MAX = 0.2
DUP_TRIGRAM_FRAC_MAX = 0.55


def repetition_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, top_word_frac, dup_trigram_frac, keep) — the
    within-document repetition profile behind Gopher-style quality
    gates: the mass of the single most frequent word, and the fraction
    of word trigrams that are repeats of an earlier trigram in the SAME
    document (1 - distinct/total).

    Contrast ``bigram_quality`` (cross-corpus typicality): these
    features never leave the document, so the whole operator is two
    doc_id-keyed aggregates — embarrassingly parallel, no corpus-wide
    join, linear at any scale."""
    words_rel = documents.select(
        "doc_id", F.explode(F.expr(_words())).alias("word")
    )
    wstats = (
        words_rel.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_words"), F.max("c").alias("top_cnt"))
    )
    trigrams = (
        "CASE WHEN size(w) >= 3 THEN "
        "transform(sequence(1, size(w) - 2), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    tri_rel = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    ).select("doc_id", F.explode(F.expr(trigrams)).alias("trigram"))
    tstats = tri_rel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.countDistinct("trigram").alias("n_tri_distinct"),
    )
    out = (
        wstats.join(tstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("top_cnt").cast("double") / F.col("n_words").cast("double")).alias(
                "top_word_frac"
            ),
            F.when(
                F.col("n_tri").isNotNull() & (F.col("n_tri") > 0),
                F.lit(1.0)
                - F.col("n_tri_distinct").cast("double") / F.col("n_tri").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_trigram_frac"),
        )
    )
    return out.withColumn(
        "keep",
        (F.col("top_word_frac") <= TOP_WORD_FRAC_MAX)
        & (F.col("dup_trigram_frac") <= DUP_TRIGRAM_FRAC_MAX),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


#: shared repetition-stat CTE chain (words → per-doc word stats,
#: trigrams → per-doc dup stats) — reused verbatim by the repetition
#: and corpus-report oracles so "keep" can never mean two things.
_REPETITION_CTES = """
    words AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    wstats AS (
        SELECT doc_id, sum(c)::BIGINT AS n_words, max(c)::BIGINT AS top_cnt
        FROM (SELECT doc_id, word, count(1) AS c FROM words GROUP BY doc_id, word)
        GROUP BY doc_id
    ),
    warr AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    tri AS (
        SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS trigram
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
              FROM warr)
    ),
    tstats AS (
        SELECT doc_id, count(1) AS n_tri,
               count(DISTINCT trigram) AS n_tri_distinct
        FROM tri GROUP BY doc_id
    )
"""

ORACLES["q_text_repetition"] = f"""
    WITH {_REPETITION_CTES}
    SELECT w.doc_id, w.n_words,
           CAST(w.top_cnt AS DOUBLE) / CAST(w.n_words AS DOUBLE) AS top_word_frac,
           CASE WHEN t.n_tri IS NOT NULL AND t.n_tri > 0
                THEN 1.0 - CAST(t.n_tri_distinct AS DOUBLE) / CAST(t.n_tri AS DOUBLE)
                ELSE 0.0 END AS dup_trigram_frac,
           (CAST(w.top_cnt AS DOUBLE) / CAST(w.n_words AS DOUBLE) <= {TOP_WORD_FRAC_MAX}
            AND (CASE WHEN t.n_tri IS NOT NULL AND t.n_tri > 0
                      THEN 1.0 - CAST(t.n_tri_distinct AS DOUBLE) / CAST(t.n_tri AS DOUBLE)
                      ELSE 0.0 END) <= {DUP_TRIGRAM_FRAC_MAX}) AS keep
    FROM wstats w LEFT JOIN tstats t USING (doc_id)
    ORDER BY w.doc_id
"""

QUERIES["q_text_repetition"] = q_text_repetition
BENCH.append("q_text_repetition")


#: character-window chunking: chunk size and stride (overlap =
#: CHUNK_CHARS - CHUNK_STRIDE keeps boundary context in both chunks).
CHUNK_CHARS = 120
CHUNK_STRIDE = 100


def chunk_documents(
    documents: DataFrame, chunk: int = CHUNK_CHARS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """(doc_id, chunk_id, off, chunk_len, chunk_text) — overlapping
    fixed-width character windows: chunk ``i`` covers
    ``[i·stride, i·stride + chunk)``; ``ceil(len/stride)`` chunks cover
    every character, the last may be short, and consecutive chunks
    share ``chunk - stride`` characters of boundary context (what keeps
    sentences split across a boundary learnable).

    The pre-tokenization layout step of a pretraining pipeline
    (long documents → model-sized pieces; token-exact chunking swaps
    the char arithmetic for a tokenizer UDF, same dataflow). A pure
    narrow ``sequence``/``explode``/``substring`` projection — fuses
    into the scan, zero shuffle, row-expanding by the constant factor
    len/stride."""
    n_chunks = f"(greatest(length(text), 1) + {stride - 1}) DIV {stride}"
    offs = f"transform(sequence(0, {n_chunks} - 1), i -> i * {stride})"
    return (
        documents.select(
            "doc_id", "text", F.posexplode(F.expr(offs)).alias("chunk_id", "off")
        )
        .select(
            "doc_id",
            "chunk_id",
            "off",
            F.expr(f"substring(text, off + 1, {chunk})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
        .select("doc_id", "chunk_id", "off", "chunk_len", "chunk_text")
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id", "chunk_id"
    )


ORACLES["q_text_chunks"] = f"""
    WITH n AS (
        SELECT doc_id, text,
               (greatest(length(text), 1) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
                   AS n_chunks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(generate_series(0, n_chunks - 1))::INT AS chunk_id,
               text
        FROM n
    )
    SELECT doc_id, chunk_id,
           (chunk_id * {CHUNK_STRIDE})::INT AS off,
           length(substr(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_CHARS}))::INT
               AS chunk_len,
           substr(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_CHARS}) AS chunk_text
    FROM chunks ORDER BY doc_id, chunk_id
"""

QUERIES["q_text_chunks"] = q_text_chunks
BENCH.append("q_text_chunks")


def corpus_report(documents: DataFrame) -> DataFrame:
    """(source, n_docs, n_keep, total_chars, total_words) — the
    per-source report card a curation dashboard reads: volume, token
    mass, and how much survives the repetition gates. Composes
    :func:`repetition_stats` with a per-source rollup; all-integer
    outputs, so the cross-engine comparison is exact. Two doc_id-keyed
    aggregates + one source-keyed aggregate — the same linear shapes as
    its inputs."""
    rep = repetition_stats(documents).select(
        "doc_id", "n_words", F.col("keep").cast("int").alias("keep_i")
    )
    return (
        documents.select("doc_id", "source", "n_chars")
        .join(rep, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep_i").cast("long").alias("n_keep"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
        .orderBy("source")
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_report(load_table(spark, sf_dir, "documents"))


ORACLES["q_corpus_report"] = f"""
    WITH {_REPETITION_CTES},
    rep AS (
        SELECT w.doc_id, w.n_words,
               CASE WHEN
                   CAST(w.top_cnt AS DOUBLE) / CAST(w.n_words AS DOUBLE)
                       <= {TOP_WORD_FRAC_MAX}
                   AND (CASE WHEN t.n_tri IS NOT NULL AND t.n_tri > 0
                             THEN 1.0 - CAST(t.n_tri_distinct AS DOUBLE)
                                      / CAST(t.n_tri AS DOUBLE)
                             ELSE 0.0 END) <= {DUP_TRIGRAM_FRAC_MAX}
               THEN 1 ELSE 0 END AS keep_i
        FROM wstats w LEFT JOIN tstats t USING (doc_id)
    )
    SELECT d.source, count(1)::BIGINT AS n_docs,
           sum(r.keep_i)::BIGINT AS n_keep,
           sum(d.n_chars)::BIGINT AS total_chars,
           sum(r.n_words)::BIGINT AS total_words
    FROM documents d JOIN rep r ON d.doc_id = r.doc_id
    GROUP BY d.source ORDER BY d.source
"""

QUERIES["q_corpus_report"] = q_corpus_report


# ---------------------------------------------------------------------------
# boilerplate n-gram detection
# ---------------------------------------------------------------------------

BOILERPLATE_TOP_N = 20


def boilerplate_shingles(documents: DataFrame, top_n: int = BOILERPLATE_TOP_N) -> DataFrame:
    """(shingle, df, df_share) — the ``top_n`` word 3-grams by document
    frequency: the corpus's boilerplate (navigation chrome, license
    headers, templated phrases). This is the *diagnostic twin* of the
    dedup path's inverted-index df cap (operators.dedup.NGRAM_MAX_DF):
    the shingles this query surfaces are exactly the ones candidate
    generation prunes, so a curation run uses it to audit what the cap
    drops and to build boilerplate-strip rules.

    Scale shape: per-doc distinct shingle ARRAYS built narrowly
    (shingle_sets — array_distinct inside the row, zero shuffle, so the
    per-doc dedup costs no Exchange, unlike the row-level
    shingle_rel.distinct()) → explode → groupBy(shingle) count (the
    ONLY shuffle, with map-side partial aggregation — high-df shingles
    are exactly the ones partial agg compresses best) → global top-n
    (TakeOrderedAndProject). The 1-row total-docs count rides in via a
    broadcast cross join, never a driver round-trip.
    """
    from ..tables import ensure_scan_parallelism
    from .dedup import shingle_sets

    documents = ensure_scan_parallelism(
        documents, documents.sparkSession
    )
    n_docs = documents.select(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    # ONE definition of "shingle" across dedup and this audit: the
    # digest-free shingle_sets variant (md5 digests feed only minhash,
    # pure wasted work here), exploded without the per-doc distinct
    # Exchange the row-level shingle_rel would pay.
    exploded = shingle_sets(documents, with_digests=False).select(
        F.explode("sset").alias("shingle")
    )
    return (
        exploded
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            "df",
            (F.col("df").cast("double") / F.col("n_docs")).alias("df_share"),
        )
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(top_n)
    )


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_shingles(load_table(spark, sf_dir, "documents"))


ORACLES["q_text_boilerplate"] = f"""
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
              FROM words)
    )
    SELECT shingle, count(1)::BIGINT AS df,
           CAST(count(1) AS DOUBLE) / (SELECT CAST(count(1) AS DOUBLE) FROM documents)
               AS df_share
    FROM shingles GROUP BY shingle
    ORDER BY df DESC, shingle LIMIT {BOILERPLATE_TOP_N}
"""

QUERIES["q_text_boilerplate"] = q_text_boilerplate
BENCH.append("q_text_boilerplate")


# ---------------------------------------------------------------------------
# unigram LM scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

#: Vocabulary floor for the corpus-derived unigram LMs: words seen
#: fewer than this many times collapse into one OOV bucket whose
#: probability is the floored words' POOLED mass (sum of their counts /
#: total). This is what makes the model-relation broadcast honest at
#: web scale — raw vocabulary is every hapax and typo (Heaps-law
#: growth, measured in q_vocab_growth); the floored vocab is the
#: heavy-tail head and the floor is the production knob to raise. The
#: fixture value 2 floors exactly the hapaxes, so the OOV path is
#: exercised (and oracle-verified) at every SF.
MODEL_MIN_COUNT = 2


def _floored_token_logprobs(tokens: DataFrame) -> DataFrame:
    """(doc_id, lp) — every token scored under the min-count-floored
    unigram model. Kept words (count ≥ MODEL_MIN_COUNT) carry their own
    ln(count/total); floored words coalesce to the shared OOV-bucket
    ln(oov_mass/total). The OOV probability is a 1-row scalar and
    carries a broadcast hint; the floored-vocab model is SMALL (the
    floor cuts the Heaps-law hapax tail) but not structurally bounded,
    so per the broadcast policy it goes unhinted — AQE picks BHJ from
    its measured size. All lp values ride the round-6 DECIMAL grid
    (order-independent exact sums downstream)."""
    counts = tokens.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("total"),
        F.sum(
            F.when(F.col("c") < MODEL_MIN_COUNT, F.col("c")).otherwise(F.lit(0))
        ).alias("oov_c"),
    )
    model = (
        counts.where(F.col("c") >= MODEL_MIN_COUNT)
        .crossJoin(F.broadcast(totals))
        .select(
            "word",
            F.round(
                F.log(F.col("c").cast("double") / F.col("total").cast("double")), 6
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    # ln(0) → NULL when nothing was floored; that NULL is never read —
    # a token misses the floored model only if its word WAS floored,
    # which implies oov_c > 0.
    oov = totals.select(
        F.round(
            F.log(F.col("oov_c").cast("double") / F.col("total").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("oov_lp"),
    )
    return (
        tokens.join(model, "word", "left")
        .crossJoin(F.broadcast(oov))
        .select("doc_id", F.coalesce("lp", "oov_lp").alias("lp"))
    )


#: Oracle twin of :func:`_floored_token_logprobs` — CTE text shared by
#: both LM oracles so the floor can never drift between them. Assumes a
#: ``tokens(doc_id, word)`` CTE is already in scope.
_FLOORED_MODEL_ORACLE_CTES = f"""
    counts AS (
        SELECT word, count(1)::BIGINT AS c FROM tokens GROUP BY word
    ),
    tot AS (
        SELECT sum(c)::DOUBLE AS total,
               sum(CASE WHEN c < {MODEL_MIN_COUNT} THEN c ELSE 0 END)::DOUBLE
                   AS oov_c
        FROM counts
    ),
    model AS (
        SELECT word,
               CAST(round(ln(c::DOUBLE / (SELECT total FROM tot)), 6)
                   AS DECIMAL(18,6)) AS lp
        FROM counts WHERE c >= {MODEL_MIN_COUNT}
    ),
    scored AS (
        SELECT t.doc_id,
               coalesce(m.lp,
                        (SELECT CASE WHEN oov_c > 0 THEN
                             CAST(round(ln(oov_c / total), 6)
                                 AS DECIMAL(18,6)) END FROM tot)) AS lp
        FROM tokens t LEFT JOIN model m ON t.word = m.word
    )
"""


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) — each document's mean token
    log-probability under the corpus's own unigram language model
    (p(w) = count(w) / total tokens, min-count-floored with an OOV
    bucket — :func:`_floored_token_logprobs`): the perplexity-style
    fluency filter of CCNet-class pipelines, with the corpus itself
    standing in for the external LM (no model files in this container).

    Determinism discipline: each token's ln(p) is rounded to 6 dp and
    summed as EXACT DECIMAL — the per-doc sum is order-independent, so
    shuffle layout can't change the result and the DuckDB oracle
    matches bit-for-bit (ulp-level libm divergence would have to land
    exactly on a rounding boundary to matter).

    Scale shape: token stream → one word-count aggregate (the model) →
    model joined back onto the token stream. The broadcast model is the
    FLOORED vocab (raw vocab is Heaps-law unbounded — the floor is what
    makes the hint honest), so the token stream never shuffles: the
    join is broadcast-hash against the scan, then one per-doc
    aggregate. Total: two aggregates + one broadcast join, all linear.
    The token stream is retained — the model aggregate reads the same
    exploded relation the scoring join probes."""
    tokens = retain(
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
        )
    )
    return (
        _floored_token_logprobs(tokens)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("lp_sum"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("lp_sum").cast("string").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("avg_logprob"),
        )
    )


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return unigram_logprob(documents).orderBy("doc_id")


ORACLES["q_text_unigram_logprob"] = f"""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    {_FLOORED_MODEL_ORACLE_CTES}
    SELECT doc_id, count(1)::BIGINT AS n_tokens,
           round(CAST(CAST(sum(lp) AS VARCHAR) AS DOUBLE)
                 / count(1)::DOUBLE, 6) AS avg_logprob
    FROM scored
    GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["q_text_unigram_logprob"] = q_text_unigram_logprob
BENCH.append("q_text_unigram_logprob")


MINK_PCT = 20


def min_k_prob(documents: DataFrame, k_pct: int = MINK_PCT) -> DataFrame:
    """(doc_id, n_tokens, n_sel, mink_logprob) — the Min-K% Prob
    membership/memorization audit (Shi et al., "Detecting Pretraining
    Data from Large Language Models"): score each document by the MEAN
    log-probability of its ``k_pct``% least-likely tokens. A document
    the model has memorized has anomalously HIGH probability even on
    its rarest tokens, so a high min-k score flags likely training-set
    membership — the per-document complement of the shingle-level
    [[q_decontaminate]] and positional [[q_phrase_scan]] audits. The
    corpus's own unigram model stands in for the external LM (same
    substitution as :func:`unigram_logprob`).

    Determinism: the bottom-n_sel selection is tie-safe WITHOUT a
    tie-break column — swapping equal-lp tokens across the selection
    boundary cannot change the selected SUM, and row_number guarantees
    both engines select exactly n_sel rows. lp values ride the same
    round-6 DECIMAL grid as unigram_logprob, summed exactly.

    Scale shape: one vocabulary aggregate, floored to the bounded
    broadcast model of :func:`_floored_token_logprobs` (raw vocab is
    Heaps-law unbounded — the floor makes the broadcast honest), one
    broadcast join onto the token stream, one per-document window
    (per-doc cardinality = document length, bounded by construction —
    no skew hazard), one per-doc aggregate."""
    tokens = retain(
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
        )
    )
    w = Window.partitionBy("doc_id")
    ranked = (
        _floored_token_logprobs(tokens)
        .select(
            "doc_id",
            "lp",
            F.row_number().over(w.orderBy(F.asc("lp"))).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n_tokens"),
        )
        .withColumn(
            "n_sel",
            F.greatest(F.lit(1), F.expr(f"(n_tokens * {k_pct}) div 100")),
        )
    )
    return (
        ranked.where(F.col("rn") <= F.col("n_sel"))
        .groupBy("doc_id", "n_tokens", "n_sel")
        .agg(F.sum("lp").alias("sel_sum"))
        .select(
            "doc_id",
            "n_tokens",
            "n_sel",
            # NO final round: the exact-DECIMAL sum reaches double by
            # the same string route in both engines and IEEE division
            # is exactly specified, so the raw quotient is bit-equal —
            # while round(x, 6) diverges on half-digit ties (measured:
            # -3.4453395 split -3.445339 vs -3.44534 across engines)
            (
                F.col("sel_sum").cast("string").cast("double")
                / F.col("n_sel").cast("double")
            ).alias("mink_logprob"),
        )
        .orderBy("doc_id")
    )


def q_min_k_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return min_k_prob(documents)


ORACLES["q_min_k_prob"] = f"""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    {_FLOORED_MODEL_ORACLE_CTES},
    ranked AS (
        SELECT doc_id, lp,
               row_number() OVER (PARTITION BY doc_id ORDER BY lp ASC) AS rn,
               count(1) OVER (PARTITION BY doc_id) AS n_tokens
        FROM scored
    ),
    capped AS (
        SELECT doc_id, lp, n_tokens,
               greatest(1, (n_tokens * {MINK_PCT}) // 100) AS n_sel
        FROM ranked
        WHERE rn <= greatest(1, (n_tokens * {MINK_PCT}) // 100)
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens, n_sel::BIGINT AS n_sel,
           CAST(CAST(sum(lp) AS VARCHAR) AS DOUBLE) / n_sel::DOUBLE
               AS mink_logprob
    FROM capped
    GROUP BY doc_id, n_tokens, n_sel
    ORDER BY doc_id
"""

QUERIES["q_min_k_prob"] = q_min_k_prob
BENCH.append("q_min_k_prob")


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over the co-occurrence graph)
# ---------------------------------------------------------------------------

TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERATIONS = 3
TEXTRANK_TOP_K = 20


def cooccurrence_edges(documents: DataFrame) -> DataFrame:
    """(src, dst, weight) — the symmetrized adjacent-word co-occurrence
    graph: each adjacent token pair is an undirected edge weighted by
    its corpus count. Narrow bigram build (1-based ``element_at`` so
    the DuckDB twin indexes identically) → one aggregate on the
    normalized pair → union of both directions."""
    words = documents.select(
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    pair_expr = (
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"
    )
    pairs = (
        words.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            F.least("p.a", "p.b").alias("a"), F.greatest("p.a", "p.b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "weight"
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "weight")
    )


def textrank(
    documents: DataFrame,
    damping: float = TEXTRANK_DAMPING,
    iterations: int = TEXTRANK_ITERATIONS,
    top_k: int = TEXTRANK_TOP_K,
) -> DataFrame:
    """(word, rank) — TextRank keyword extraction: weighted PageRank
    over the adjacent-word co-occurrence graph, ``iterations`` fixed
    power-iteration rounds from the uniform start, top-``top_k`` words.

    Engine-portable ITERATIVE numerics (same discipline as the k-means
    oracle): each neighbor contribution is quantized to 12 dp and
    summed as EXACT DECIMAL — order-independent, so shuffle layout
    can't change a rank — and each round's rank is re-quantized before
    the next, so error cannot compound into divergence. The fixed
    iteration count makes the whole run SQL-expressible (the DuckDB
    oracle unrolls the rounds as CTEs).

    Scale shape: the edge relation aggregates once (narrow bigram
    build, one pair-keyed shuffle); each round is one hash join
    edges ⨝ ranks keyed on src + one dst-keyed aggregate — the
    standard distributed PageRank step. The rank relation (one row per
    vocabulary word) is orders of magnitude smaller than the corpus;
    at web scale you'd partition both relations by the same key so
    rounds reuse the partitioning."""
    # retain the JOINED (edges ⨝ out-weight) relation, not raw edges:
    # every power-iteration round reads `e`, and with only `edges`
    # cached the out-weight aggregate + join re-executed per round
    # (profiled r13: 48 Exchange executions; interleaved A/B 0.62-0.82
    # with this shape). `nodes` derives from `e` — the inner join on
    # src preserves every src (outw is keyed by src, built from edges)
    # — and the n_nodes count doubles as the cache pre-materialization
    # an iterative consumer needs (scope.retain).
    edges = cooccurrence_edges(documents)
    outw = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
    e = retain(edges.join(outw, "src"))
    nodes = e.select(F.col("src").alias("word")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # no co-occurrence edges (every doc < 2 tokens): empty result,
        # not a divide-by-zero.
        spark = documents.sparkSession
        return spark.createDataFrame([], "word string, rank double")
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contrib = e.join(
            ranks.select(F.col("word").alias("src"), "r"), "src"
        ).select(
            F.col("dst").alias("word"),
            F.round(
                F.lit(damping) * (F.col("weight") / F.col("outw")) * F.col("r"),
                12,
            )
            .cast("decimal(28,12)")
            .alias("c"),
        )
        ranks = contrib.groupBy("word").agg(
            F.round(
                F.lit(base) + F.sum("c").cast("string").cast("double"), 12
            ).alias("r")
        )
    return (
        ranks.select("word", F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(top_k)
    )


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return textrank(documents)


def _textrank_round_sql(i: int, prev: str) -> str:
    return f"""
    r{i} AS (
        SELECT e.dst AS word,
               round((SELECT base FROM consts)
                     + CAST(CAST(sum(CAST(round(
                           {TEXTRANK_DAMPING} * (e.weight / e.outw) * p.r,
                       12) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE),
                   12) AS r
        FROM e JOIN {prev} p ON e.src = p.word
        GROUP BY e.dst
    )"""


ORACLES["q_textrank_keywords"] = f"""
    WITH words AS (
        SELECT string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    raw_pairs AS (
        SELECT least(w[i], w[i+1]) AS a, greatest(w[i], w[i+1]) AS b
        FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
              FROM words)
        WHERE w[i] != w[i+1]
    ),
    pairs AS (
        SELECT a, b, count(1) AS weight FROM raw_pairs GROUP BY a, b
    ),
    edges AS (
        SELECT a AS src, b AS dst, weight FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst, weight FROM pairs
    ),
    outw AS (
        SELECT src, sum(weight) AS outw FROM edges GROUP BY src
    ),
    e AS (
        SELECT edges.src, edges.dst, edges.weight, outw.outw
        FROM edges JOIN outw ON edges.src = outw.src
    ),
    consts AS (
        SELECT count(DISTINCT src) AS n,
               (1.0 - {TEXTRANK_DAMPING}) / count(DISTINCT src) AS base,
               1.0 / count(DISTINCT src) AS r0
        FROM edges
    ),
    ranks0 AS (
        SELECT DISTINCT src AS word, (SELECT r0 FROM consts) AS r FROM edges
    ),
    {_textrank_round_sql(1, "ranks0")},
    {_textrank_round_sql(2, "r1")},
    {_textrank_round_sql(3, "r2")}
    SELECT word, round(r, 6) AS rank
    FROM r3 ORDER BY rank DESC, word LIMIT {TEXTRANK_TOP_K}
"""

QUERIES["q_textrank_keywords"] = q_textrank_keywords
BENCH.append("q_textrank_keywords")


# ---------------------------------------------------------------------------
# keyness: distinctive terms per source (log-likelihood ratio)
# ---------------------------------------------------------------------------

KEYNESS_TOP_K = 5


def source_keyness(documents: DataFrame, top_k: int = KEYNESS_TOP_K) -> DataFrame:
    """(source, word, g2, rk) — each source's ``top_k`` most distinctive
    terms by Dunning's G² log-likelihood ratio against the rest of the
    corpus: the standard corpus-comparison statistic for "what is this
    slice about / is this feed drifting" curation questions.

    G² = 2·(a·ln(a/e1) + b·ln(b/e2)) with a = term count in the
    source, b = in the rest, c/d = token totals, e1 = c·(a+b)/(c+d),
    e2 = d·(a+b)/(c+d); zero-count terms contribute zero (lim x→0 of
    x·ln x). All inputs are EXACT integer counts and the statistic is
    one fixed double expression per row — no order-dependent float
    aggregation anywhere, so the DuckDB twin is bit-identical.

    Scale shape: one (source, word) count aggregate over the token
    stream, one word-total aggregate derived from it, per-source totals
    broadcast — the heavy relation shuffles ONCE on the word key; the
    per-source top-k is a window over the scored relation (vocabulary-
    sized, not corpus-sized)."""
    tokens = documents.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
    )
    sw = tokens.groupBy("source", "word").agg(F.count(F.lit(1)).alias("a"))
    wtot = sw.groupBy("word").agg(F.sum("a").alias("ab"))
    stot = sw.groupBy("source").agg(F.sum("a").alias("c"))
    gtot = stot.agg(F.sum("c").alias("cd"))
    scored = (
        sw.join(wtot, "word")
        .join(stot, "source")  # source-keyed: unhinted per broadcast policy
        .crossJoin(F.broadcast(gtot))
        .withColumn("b", F.col("ab") - F.col("a"))
        .withColumn("d", F.col("cd") - F.col("c"))
        .withColumn(
            "e1",
            F.col("c").cast("double")
            * F.col("ab").cast("double")
            / F.col("cd").cast("double"),
        )
        .withColumn(
            "e2",
            F.col("d").cast("double")
            * F.col("ab").cast("double")
            / F.col("cd").cast("double"),
        )
        .withColumn(
            "g2",
            F.round(
                F.lit(2.0)
                * (
                    F.when(
                        F.col("a") > 0,
                        F.col("a").cast("double")
                        * F.log(F.col("a").cast("double") / F.col("e1")),
                    ).otherwise(F.lit(0.0))
                    + F.when(
                        F.col("b") > 0,
                        F.col("b").cast("double")
                        * F.log(F.col("b").cast("double") / F.col("e2")),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ),
        )
        # keyness (overuse in the source), not mere deviation: keep
        # terms whose source rate exceeds the corpus rate.
        .where(
            F.col("a").cast("double") * F.col("cd").cast("double")
            > F.col("ab").cast("double") * F.col("c").cast("double")
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("g2"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .select("source", "word", "g2", "rk")
    )


def q_text_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return source_keyness(documents).orderBy("source", "rk")


ORACLES["q_text_keyness"] = f"""
    WITH tokens AS (
        SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ),
    sw AS (
        SELECT source, word, count(1) AS a FROM tokens GROUP BY source, word
    ),
    wtot AS (SELECT word, sum(a) AS ab FROM sw GROUP BY word),
    stot AS (SELECT source, sum(a) AS c FROM sw GROUP BY source),
    gtot AS (SELECT sum(c) AS cd FROM stot),
    scored AS (
        SELECT sw.source, sw.word,
               round(2.0 * (
                   CASE WHEN sw.a > 0 THEN sw.a::DOUBLE * ln(sw.a::DOUBLE /
                       (stot.c::DOUBLE * wtot.ab::DOUBLE / gtot.cd::DOUBLE))
                   ELSE 0.0 END
                 + CASE WHEN (wtot.ab - sw.a) > 0 THEN (wtot.ab - sw.a)::DOUBLE
                       * ln((wtot.ab - sw.a)::DOUBLE /
                       ((gtot.cd - stot.c)::DOUBLE * wtot.ab::DOUBLE / gtot.cd::DOUBLE))
                   ELSE 0.0 END
               ), 6) AS g2,
               sw.a::DOUBLE * gtot.cd::DOUBLE AS lhs,
               wtot.ab::DOUBLE * stot.c::DOUBLE AS rhs
        FROM sw
        JOIN wtot USING (word)
        JOIN stot USING (source)
        CROSS JOIN gtot
    )
    SELECT source, word, g2, rk FROM (
        SELECT source, word, g2,
               row_number() OVER (
                   PARTITION BY source ORDER BY g2 DESC, word
               )::INT AS rk
        FROM scored WHERE lhs > rhs
    ) WHERE rk <= {KEYNESS_TOP_K}
    ORDER BY source, rk
"""

QUERIES["q_text_keyness"] = q_text_keyness
BENCH.append("q_text_keyness")


# ---------------------------------------------------------------------------
# BPE-style merge learning (tokenizer training, 2 unrolled rounds)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 2


def _bpe_corpus(documents: DataFrame) -> DataFrame:
    """One sentinel-wrapped symbol string per document: ``·w1· ·w2·``.
    The sentinels make corpus-wide pair merging expressible as plain
    string replace with exact greedy left-to-right BPE semantics:
    adjacent matches share no characters, so non-overlapping
    replacement (both engines' replace()) merges every occurrence."""
    return documents.select(
        "doc_id",
        F.concat(
            F.lit("·"),
            F.regexp_replace(F.lower(F.trim(F.col("text"))), " ", "· ·"),
            F.lit("·"),
        ).alias("syms"),
    )


def _bpe_top_pair(corpus: DataFrame) -> DataFrame:
    """The corpus-wide most frequent adjacent symbol pair (1 row:
    pair_a, pair_b, pair_count; ties toward the lexicographically
    smaller pair). One explode + one aggregate + top-1."""
    pair_expr = (
        "CASE WHEN size(s) >= 2 THEN "
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"
    )
    return (
        corpus.select(F.split("syms", " ").alias("s"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("pair_a"), F.col("p.b").alias("pair_b"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair_a"), F.asc("pair_b"))
        .limit(1)
    )


def bpe_merges(documents: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(round, merge_token, pair_count) — BPE tokenizer training over
    the corpus, ``rounds`` fixed merge rounds: each round counts all
    adjacent symbol pairs, picks the global argmax (count desc, pair
    asc — deterministic), and merges every occurrence corpus-wide; the
    merged token participates in the next round's pairs exactly as real
    BPE training does. Word-level symbols (phrase merges) stand in for
    character-level — the dataflow is identical.

    Fully engine-portable: counts are exact integers, the argmax
    tie-break is total, and the merge step is sentinel-delimited string
    replace (greedy non-overlapping left-to-right in both engines), so
    the unrolled DuckDB CTE twin reproduces every round bit-for-bit.

    Scale shape per round: one explode + count aggregate over the
    symbol stream (map-side partial agg), a 1-row broadcast of the
    winning pair, and a narrow per-document replace — the exact
    map-reduce decomposition of distributed BPE training; rounds are a
    fixed driver loop like k-means/TextRank.

    Each round references the previous corpus TWICE (pair counting and
    the merge rewrite), so without lineage truncation the analyzed
    plan doubles per round (~2^rounds) and the analyzer becomes the
    bottleneck — the connected-components lesson. Checkpointing the
    corpus per round (reliable dir if configured, else local) caps the
    plan at one round's depth; cached-persist alone would NOT cut
    lineage."""
    corpus = _bpe_corpus(documents)
    results = []
    for r in range(1, rounds + 1):
        sc = corpus.sparkSession.sparkContext
        if r > 1:  # round 1 reads the raw scan — nothing to truncate
            corpus = (
                corpus.checkpoint()
                if sc.getCheckpointDir() is not None
                else corpus.localCheckpoint()
            )
        top = _bpe_top_pair(corpus)
        results.append(
            top.select(
                F.lit(r).alias("round"),
                F.expr(
                    "concat(substring(pair_a, 1, length(pair_a) - 1), "
                    "'§', substring(pair_b, 2))"
                ).alias("merge_token"),
                "pair_count",
            )
        )
        corpus = corpus.crossJoin(F.broadcast(top)).select(
            "doc_id",
            F.expr(
                "replace(syms, concat(pair_a, ' ', pair_b), "
                "concat(substring(pair_a, 1, length(pair_a) - 1), "
                "'§', substring(pair_b, 2)))"
            ).alias("syms"),
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return bpe_merges(documents).orderBy("round")


_BPE_PAIRS_SQL = """
    SELECT s[i] AS pair_a, s[i+1] AS pair_b, count(1) AS pair_count
    FROM (SELECT string_split(syms, ' ') AS s,
                 unnest(generate_series(1, greatest(len(string_split(syms, ' ')) - 1, 0))) AS i
          FROM {src})
    GROUP BY 1, 2
"""

ORACLES["q_bpe_merges"] = f"""
    WITH corpus0 AS (
        SELECT doc_id,
               concat('·', replace(lower(trim(text)), ' ', '· ·'), '·') AS syms
        FROM documents
    ),
    top1 AS (
        SELECT pair_a, pair_b, pair_count
        FROM ({_BPE_PAIRS_SQL.format(src="corpus0")})
        ORDER BY pair_count DESC, pair_a, pair_b LIMIT 1
    ),
    corpus1 AS (
        SELECT doc_id,
               replace(syms, concat(pair_a, ' ', pair_b),
                       concat(substring(pair_a, 1, length(pair_a) - 1),
                              '§', substring(pair_b, 2))) AS syms
        FROM corpus0 CROSS JOIN top1
    ),
    top2 AS (
        SELECT pair_a, pair_b, pair_count
        FROM ({_BPE_PAIRS_SQL.format(src="corpus1")})
        ORDER BY pair_count DESC, pair_a, pair_b LIMIT 1
    )
    SELECT 1 AS round,
           concat(substring(pair_a, 1, length(pair_a) - 1), '§',
                  substring(pair_b, 2)) AS merge_token,
           pair_count::BIGINT AS pair_count
    FROM top1
    UNION ALL
    SELECT 2, concat(substring(pair_a, 1, length(pair_a) - 1), '§',
                     substring(pair_b, 2)), pair_count::BIGINT
    FROM top2
    ORDER BY round
"""

QUERIES["q_bpe_merges"] = q_bpe_merges
BENCH.append("q_bpe_merges")


# ---------------------------------------------------------------------------
# vocabulary growth curve (Heaps' law)
# ---------------------------------------------------------------------------

VOCAB_DECILES = 10


def vocab_growth(documents: DataFrame, buckets: int = VOCAB_DECILES) -> DataFrame:
    """(decile, n_docs, vocab_size) — cumulative distinct-vocabulary
    size over growing doc_id-ordered corpus prefixes: the Heaps'-law
    curve a corpus report uses to judge whether a feed still adds new
    language or has saturated (a flat tail means more data buys no new
    vocabulary — a dedup/diversity smell).

    Scale shape: ONE (word → first-decile) aggregate over the token
    stream (min decile per word = the prefix where the word first
    appears), then a 10-row running sum — the cumulative distinct
    count per prefix without re-scanning the corpus per prefix (the
    naive per-decile COUNT(DISTINCT) would scan 10×)."""
    bounds = documents.agg(F.max("doc_id").alias("max_id"))
    # integer DIV on both engines: double-divide-then-cast TRUNCATES in
    # Spark but ROUNDS in DuckDB — boundary docs would shift deciles
    decile = F.least(
        F.lit(buckets),
        F.expr(f"(doc_id * {buckets}) DIV (max_id + 1)").cast("int") + 1,
    )
    tokens = documents.crossJoin(F.broadcast(bounds)).select(
        decile.alias("decile"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word"),
    )
    first_seen = tokens.groupBy("word").agg(F.min("decile").alias("first_decile"))
    new_per = first_seen.groupBy("first_decile").agg(
        F.count(F.lit(1)).alias("new_words")
    )
    docs_per = (
        documents.crossJoin(F.broadcast(bounds))
        .select(decile.alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("docs_in"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per.join(
            new_per, docs_per["decile"] == new_per["first_decile"], "left"
        )
        .select(
            "decile",
            "docs_in",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
        .withColumn("n_docs", F.sum("docs_in").over(w))
        .withColumn("vocab_size", F.sum("new_words").over(w))
        .select("decile", "n_docs", "vocab_size")
        .orderBy("decile")
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return vocab_growth(documents)


ORACLES["q_vocab_growth"] = f"""
    WITH bounds AS (
        SELECT max(doc_id) AS max_id FROM documents
    ),
    docs AS (
        SELECT doc_id, text,
               least({VOCAB_DECILES},
                     ((doc_id * {VOCAB_DECILES}) // (max_id + 1))::INT + 1) AS decile
        FROM documents CROSS JOIN bounds
    ),
    tokens AS (
        SELECT decile, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM docs
    ),
    first_seen AS (
        SELECT word, min(decile) AS first_decile FROM tokens GROUP BY word
    ),
    new_per AS (
        SELECT first_decile AS decile, count(1) AS new_words
        FROM first_seen GROUP BY first_decile
    ),
    docs_per AS (
        SELECT decile, count(1) AS docs_in FROM docs GROUP BY decile
    )
    SELECT d.decile,
           sum(d.docs_in) OVER (ORDER BY d.decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_docs,
           sum(coalesce(n.new_words, 0)) OVER (ORDER BY d.decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS vocab_size
    FROM docs_per d LEFT JOIN new_per n ON d.decile = n.decile
    ORDER BY d.decile
"""

QUERIES["q_vocab_growth"] = q_vocab_growth


# ---------------------------------------------------------------------------
# heavy hitters — Misra-Gries candidate prune + exact verify
# ---------------------------------------------------------------------------

#: Heavy-hitter threshold ratio R: a phrase qualifies when
#: freq · R ≥ total phrase count (i.e. freq ≥ N/R). Integer-compared —
#: no float threshold drift between engines.
HH_RATIO = 5000

#: Per-partition Misra-Gries counter capacity C. The merged candidate
#: set provably contains every phrase with freq > N/(C+1); with
#: C+1 > R every true heavy hitter survives the prune, so the exact
#: verify pass makes the final result EXACT — the sketch only bounds
#: which keys reach the shuffle, never the reported counts.
MG_CAPACITY = 8192


def _mg_candidates(documents: DataFrame, n: int, capacity: int) -> DataFrame:
    """(word) candidate phrases from a per-partition Misra-Gries pass
    over the word ``n``-gram stream, Arrow-batched via ``mapInPandas``
    (the sanctioned Python seam — per-partition imperative counter
    state has no DataFrame expression). Each partition emits ≤
    ``capacity`` rows regardless of input size; batches merge by the
    standard mergeable-summary rule (add counters, subtract the
    (C+1)-th largest, keep positives — Agarwal et al., "Mergeability
    of Summaries", PODS'12), preserving the n_p/(C+1) underestimate
    bound. At 100 TB this is a narrow full scan producing a
    partitions × C candidate stream — the full phrase vocabulary
    (the thing that explodes at scale) never shuffles."""

    def op(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            batch: dict[str, int] = {}
            for text in pdf["text"]:
                w = str(text).lower().strip().split(" ")
                for i in range(len(w) - n + 1):
                    g = " ".join(w[i : i + n])
                    batch[g] = batch.get(g, 0) + 1
            for g, c in batch.items():
                counters[g] = counters.get(g, 0) + c
            if len(counters) > capacity:
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    g: c - cut for g, c in counters.items() if c > cut
                }
        if counters:
            yield pd.DataFrame({"word": list(counters.keys())})

    return documents.select("text").mapInPandas(op, schema="word string")


def heavy_hitter_phrases(
    documents: DataFrame,
    n: int = 3,
    ratio: int = HH_RATIO,
    capacity: int = MG_CAPACITY,
) -> DataFrame:
    """(word, freq) — word ``n``-grams with freq · ratio ≥ total
    n-gram count, EXACT counts. The boilerplate-phrase miner: template
    headers/footers and license blurbs surface as corpus-frequency
    heavy hitters long before any pairwise dedup sees them.

    Two-pass exact-over-sketch shape: (1) the Misra-Gries candidate
    scan (narrow, bounded output); (2) one exact count pass with the
    phrase stream broadcast-semi-joined to the candidate set BEFORE
    the aggregate, so the only wide shuffle carries candidate phrases
    only — at 100 TB the full n-gram vocabulary is ~corpus-sized and
    shuffling it (the naive groupBy-everything plan) is the bottleneck
    this operator exists to avoid. The scalar total comes narrow from
    per-doc counts (no explode). Correctness does not depend on sketch
    tuning: candidates are a guaranteed superset of qualifiers
    (capacity + 1 > ratio), and every reported count is exact."""
    grams = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(0, size(w) - {n}), i -> concat_ws(' ', slice(w, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    phrases = _with_words(documents).select(
        F.explode(F.expr(grams)).alias("word")
    )
    total = _with_words(documents).agg(
        F.sum(F.greatest(F.size("w") - F.lit(n - 1), F.lit(0))).alias("n_total")
    )
    cand = _mg_candidates(documents, n, capacity).distinct()
    counts = (
        # MG candidates are <= capacity x n_partitions (not globally
        # bounded) — unhinted per the broadcast policy; AQE BHJs it
        phrases.join(cand, "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        counts.join(F.broadcast(total))
        .where(F.col("freq") * ratio >= F.col("n_total"))
        .select("word", "freq")
        .orderBy(F.desc("freq"), "word")
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan widening MEASURED and REJECTED here (r13): the 3-gram build
    # is cheap per row, so the round-robin exchange cost exceeded the
    # parallelism win (interleaved A/B 1.06 vs unwidened).
    return heavy_hitter_phrases(load_table(spark, sf_dir, "documents"))


ORACLES["q_heavy_hitters"] = f"""
    WITH words AS (
        SELECT string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT concat_ws(' ', w[i], w[i+1], w[i+2]) AS word
        FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
              FROM words)
    ),
    tot AS (SELECT count(1) AS n_total FROM grams),
    counts AS (SELECT word, count(1)::BIGINT AS freq FROM grams GROUP BY word)
    SELECT word, freq FROM counts, tot
    WHERE freq * {HH_RATIO} >= n_total
    ORDER BY freq DESC, word
"""

QUERIES["q_heavy_hitters"] = q_heavy_hitters
BENCH.append("q_heavy_hitters")


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — rolling-boundary variable windows
# ---------------------------------------------------------------------------

#: boundary divisor: a word STARTS a new chunk when its md5 leading hex
#: digit mod CDC_DIVISOR == 0 (p = 2/16 → expected chunk ≈ 8 words).
CDC_DIVISOR = 8


def cdc_chunks(documents: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, n_words, chunk_text) — CONTENT-DEFINED
    chunking: boundaries fall where the word's own hash satisfies the
    divisor predicate, not at fixed offsets. The property that matters
    for dedup storage and incremental re-ingest: an edit near the END
    of a document leaves every earlier chunk byte-identical (fixed
    windows shift every boundary after an insertion — one edit
    invalidates the whole tail), so chunk-level caches and
    chunk-fingerprint dedup stay warm under document churn (the FastCDC
    / LBFS rolling-boundary idea applied at word grain).

    Fully narrow: boundary positions come from a per-row
    ``filter(sequence(...))`` over the word array, chunk slices from
    ``slice`` arithmetic — O(len) per row, no explode until the final
    constant-factor posexplode, zero shuffles besides the presentation
    sort."""
    d1 = "(instr('0123456789abcdef', substr(md5(element_at(w, i)), 1, 1)) - 1)"
    bpos = (
        f"filter(sequence(1, size(w)), i -> i > 1 AND {d1} % {CDC_DIVISOR} = 0)"
    )
    chunks = (
        f"transform(sequence(1, size(starts)), j -> concat_ws(' ', "
        f"slice(w, element_at(starts, j), "
        f"(CASE WHEN j < size(starts) THEN element_at(starts, j + 1) "
        f"ELSE size(w) + 1 END) - element_at(starts, j))))"
    )
    return (
        _with_words(documents)
        .withColumn("starts", F.expr(f"concat(array(1), {bpos})"))
        .select(
            "doc_id", F.posexplode(F.expr(chunks)).alias("chunk_id", "chunk_text")
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.expr("size(split(chunk_text, ' '))").cast("int").alias("n_words"),
            "chunk_text",
        )
        .orderBy("doc_id", "chunk_id")
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunks(load_table(spark, sf_dir, "documents"))


# independent formulation on purpose: the engine side is slice
# arithmetic over arrays, the oracle is an explode + window cumsum +
# ordered string_agg — agreeing answers from structurally different
# computations are stronger differential evidence (everything here is
# exact strings/ints, so no float-determinism reason to mirror).
ORACLES["q_cdc_chunks"] = f"""
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
    ),
    exploded AS (
        SELECT doc_id, i AS pos, w[i] AS word
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
              FROM words)
    ),
    flagged AS (
        SELECT doc_id, pos, word,
               CASE WHEN pos > 1
                         AND (strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1)
                             % {CDC_DIVISOR} = 0
                    THEN 1 ELSE 0 END AS is_boundary
        FROM exploded
    ),
    assigned AS (
        SELECT doc_id, pos, word,
               sum(is_boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS chunk_id
        FROM flagged
    )
    SELECT doc_id, chunk_id::INT AS chunk_id, count(1)::INT AS n_words,
           string_agg(word, ' ' ORDER BY pos) AS chunk_text
    FROM assigned GROUP BY doc_id, chunk_id
    ORDER BY doc_id, chunk_id
"""
QUERIES["q_cdc_chunks"] = q_cdc_chunks
BENCH.append("q_cdc_chunks")


# ---------------------------------------------------------------------------
# exact phrase scan — positional benchmark-contamination audit
# ---------------------------------------------------------------------------

PHRASE_WORDS = 6
PHRASE_DOCS = 10


def phrase_scan(documents: DataFrame, phrases: DataFrame) -> DataFrame:
    """(phrase_id, doc_id, n_hits, first_pos) — every EXACT positional
    occurrence of each bench phrase in each document. Complements
    [[q_decontaminate]] (shingle containment says "doc overlaps the
    bench set somewhere"; this says "phrase p occurs at position k,
    n times" — the audit evidence a contamination report needs).

    Scale shape: documents decompose narrowly into per-position
    PHRASE_WORDS-gram digests (16-hex md5 prefix, same convention as
    the substring-dedup postings); the phrase set reduces to digests
    and BROADCASTS into a hash join — no corpus shuffle at all until
    the final (phrase_id, doc_id) count, whose cardinality is hits,
    not corpus. ``phrases``: (phrase_id, phrase); casing normalizes
    here (lower — whitespace is significant, matching the document
    grams byte-for-byte), and the phrase MUST be exactly PHRASE_WORDS
    single-space-joined tokens — a different token count cannot match
    any document window (the scan indexes fixed-width grams) and such
    a phrase contributes no rows."""
    # Normalize the phrase EXACTLY as the document grams are built —
    # lower only, NO trim and NO whitespace collapsing. Documents split
    # on single spaces, so a double space produces an empty token; a
    # 6-token window whose EDGE token is empty space-joins with a
    # leading/trailing space, and trimming the phrase here would strip
    # that edge space and miss the hit the document grams (and the
    # DuckDB oracle, which hashes the raw joined slice) contain
    # (ADVICE r6).
    pw = phrases.select(
        "phrase_id",
        F.substring(F.md5(F.lower(F.col("phrase"))), 1, 16).alias("gh"),
    )
    words = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    grams_expr = (
        f"CASE WHEN size(w) >= {PHRASE_WORDS} THEN "
        f"transform(sequence(0, size(w) - {PHRASE_WORDS}), "
        f"i -> substring(md5(concat_ws(' ', slice(w, i + 1, {PHRASE_WORDS}))), 1, 16)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    pos = words.select(
        "doc_id", F.posexplode(F.expr(grams_expr)).alias("pos", "gh")
    )
    return (
        pos.join(F.broadcast(pw), "gh")
        .groupBy("phrase_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("phrase_id", "doc_id")
    )


def q_phrase_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination phrase audit: the bench set is the 6-word opening
    phrase of each of the first PHRASE_DOCS documents (deterministic,
    self-contained); the scan reports every exact occurrence of any of
    them anywhere in the corpus — each phrase hits at least its own
    source doc, and the tiny shared vocabulary makes cross-doc exact
    collisions a real (verified) phenomenon rather than a zero row."""
    from ..tables import ensure_scan_parallelism

    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    phrases = (
        # the literal-bound filter (doc_id < PHRASE_DOCS on a unique
        # id) IS the bench-set bound declaration the lint recognizes
        documents.where(F.col("doc_id") < PHRASE_DOCS)
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.split(F.lower(F.trim(F.col("text"))), " ").alias("w"),
        )
        .where(F.size("w") >= PHRASE_WORDS)
        .select(
            "phrase_id",
            F.expr(f"concat_ws(' ', slice(w, 1, {PHRASE_WORDS}))").alias("phrase"),
        )
    )
    return phrase_scan(documents, phrases)


ORACLES["q_phrase_scan"] = f"""
    WITH words AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ),
    phrases AS (
        SELECT doc_id AS phrase_id,
               substring(md5(array_to_string(
                   list_slice(w, 1, {PHRASE_WORDS}), ' ')), 1, 16) AS gh
        FROM words
        WHERE doc_id < {PHRASE_DOCS} AND len(w) >= {PHRASE_WORDS}
    ),
    pos AS (
        SELECT doc_id, i AS pos,
               substring(md5(array_to_string(
                   list_slice(w, i + 1, i + {PHRASE_WORDS}), ' ')), 1, 16) AS gh
        FROM words, unnest(range(0, len(w) - {PHRASE_WORDS} + 1)) AS t(i)
    )
    SELECT ph.phrase_id, p.doc_id,
           count(*)::BIGINT AS n_hits,
           min(p.pos)::INT AS first_pos
    FROM pos p JOIN phrases ph USING (gh)
    GROUP BY ph.phrase_id, p.doc_id
    ORDER BY ph.phrase_id, p.doc_id
"""
QUERIES["q_phrase_scan"] = q_phrase_scan
BENCH.append("q_phrase_scan")
