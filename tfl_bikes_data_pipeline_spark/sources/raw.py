"""Raw-format ingest parity: CSV with explicit schema, header
normalization, schema-merged parquet directory scans (SURVEY.md §2.1
S2/S6/S12).

The reference defeats bad CSV type inference by reading every column as
string with a declared pyarrow schema
(``assets/schema/make_schema.py:40-51`` applied at
``airflow/dags/ingest_bike_data.py:195-201``), normalizes drifting
headers with a sed rewrite (``ingest_bike_data.py:323-332``), and
reconciles weekly-file schema drift with ``mergeSchema`` parquet reads
(``spark/transform_load.py:180``). Spark-first equivalents:

- all-string ``StructType`` + ``spark.read.csv`` (types cast downstream,
  exactly the reference's read-then-cast discipline);
- positional rename via ``toDF(*names)`` — header text never trusted;
- ``option("mergeSchema", "true")`` directory scans.

``q_csv_roundtrip`` proves the whole raw path inside the correctness
gate: events → CSV on disk (dd/MM/yyyy HH:mm timestamps, the reference's
wire format) → all-string read → positional rename → typed fact. The
oracle computes the same fact straight from parquet, so any loss in the
CSV layer (quoting, locale, header trust) fails the hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.pipelines import TS_FMT, build_fact
from ..scope import retain
from ..tables import load_table
from ..tmputil import sweep_tmpdir


def string_schema(columns: list[str]) -> T.StructType:
    """All-string read schema (reference make_schema.py:40-51)."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def read_csv_with_schema(
    spark: SparkSession, path: str, columns: list[str], header: bool = True
) -> DataFrame:
    """CSV scan with a declared all-string schema — no inference pass
    (one read of the data, not two), types applied by explicit casts
    downstream."""
    return (
        spark.read.schema(string_schema(columns))
        .option("header", str(header).lower())
        # quoted fields may contain newlines; without multiLine the
        # reader splits them into garbage rows (reproduced in review
        # r5). Cost at scale: multiLine CSVs parallelize per FILE, not
        # per split — the standard trade for quote-correct CSV.
        .option("multiLine", "true")
        .csv(path)
    )


def normalize_headers(df: DataFrame, names: list[str]) -> DataFrame:
    """Positional batch rename (reference sed header rewrite
    ``ingest_bike_data.py:323-332`` + positional renames
    ``spark/transform_load.py:183-191``): canonical names by position,
    whatever the file's header row claimed."""
    if len(names) != len(df.columns):
        raise ValueError(
            f"expected {len(df.columns)} names for positional rename, got {len(names)}"
        )
    return df.toDF(*names)


def read_parquet_dir(spark: SparkSession, path: str, merge_schema: bool = True) -> DataFrame:
    """Directory parquet scan with schema-drift reconciliation
    (reference ``spark/transform_load.py:180``). All files of the month
    are one multi-file scan — the union is implicit (§2.8 U2)."""
    return spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)


RAW_EVENT_COLUMNS = ["Event Id", "User Id", "Event Type", "Event Date", "Value"]
CANONICAL_EVENT_COLUMNS = ["event_id", "user_id", "event_type", "event_date", "value"]


def write_events_csv(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the events table as raw CSV in the reference's wire
    shape (messy headers, dd/MM/yyyy HH:mm timestamps)."""
    events = load_table(spark, sf_dir, "events")
    raw = events.select(
        F.col("event_id").cast("string").alias(RAW_EVENT_COLUMNS[0]),
        F.col("user_id").cast("string").alias(RAW_EVENT_COLUMNS[1]),
        F.col("event_type").alias(RAW_EVENT_COLUMNS[2]),
        F.date_format("ts", TS_FMT).alias(RAW_EVENT_COLUMNS[3]),
        F.col("value").cast("string").alias(RAW_EVENT_COLUMNS[4]),
    )
    # the CSV writer's ignore*WhiteSpace defaults are TRUE — they
    # silently trim whitespace-edged values on WRITE (data loss before
    # any read); switched off so the wire format is actually lossless.
    (
        raw.write.mode("overwrite")
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out_dir)
    )
    return out_dir


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S12+P2+P5+F1+F2 end-to-end: CSV write → schema'd read →
    positional normalize → typed fact build."""
    out = os.path.join(sweep_tmpdir("raw_csv_"), "events_csv")
    write_events_csv(spark, sf_dir, out)
    raw = read_csv_with_schema(spark, out, RAW_EVENT_COLUMNS)
    canonical = normalize_headers(raw, CANONICAL_EVENT_COLUMNS)
    # select BY NAME so the rename is load-bearing in the gate:
    # build_fact's positional toDF would otherwise mask a broken
    # normalize_headers entirely (S12 coverage was hollow; review r5) —
    # wrong canonical names now fail resolution loudly.
    fact = build_fact(canonical.select(*CANONICAL_EVENT_COLUMNS))
    return fact.select("event_id", "user_id", "event_type", "event_ts", "timestamp_id")


def _typed_roundtrip_agg(back: DataFrame) -> DataFrame:
    """The one aggregate both typed-roundtrip queries share — kept in a
    single place so the decimal-string sum route can never drift
    between the two queries that share one oracle."""
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("string").cast("double").alias("total_value"),
            F.min("ts").alias("min_ts"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip — the second columnar wire format
    Spark ships natively (interchange with Hive/Trino warehouses).
    Events go typed→ORC→typed with no string intermediary, so the
    format must preserve int64 ids, doubles, and microsecond
    timestamps exactly; the oracle reads the original parquet, so any
    loss in the ORC layer fails the hash. (DuckDB cannot read ORC —
    the differential oracle on the *result* is exactly how a
    non-shared format stays inside the correctness gate.)"""
    events = load_table(spark, sf_dir, "events")
    out = os.path.join(sweep_tmpdir("raw_orc_"), "events_orc")
    events.write.mode("overwrite").orc(out)
    return _typed_roundtrip_agg(spark.read.orc(out))


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip — the third wire format
    (interchange with event collectors / log shippers, which almost
    always speak NDJSON). Events go typed→JSONL→typed with an EXPLICIT
    read schema (never inference: at 100 TB schema inference is a full
    extra pass over the data, and a drifting producer would silently
    re-type a column mid-feed). Timestamps must survive at microsecond
    grain through the ISO-8601 string form; the oracle reads the
    original parquet, so any loss in the JSON layer fails the hash."""
    events = load_table(spark, sf_dir, "events")
    out = os.path.join(sweep_tmpdir("raw_json_"), "events_json")
    # Spark's default JSON timestampFormat is millisecond-grain —
    # micros must be spelled out on BOTH sides or the layer silently
    # rounds every timestamp (caught by this query's parquet oracle).
    micros_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite").option("timestampFormat", micros_fmt).json(out)
    back = (
        spark.read.schema(events.schema)
        .option("timestampFormat", micros_fmt)
        .json(out)
    )
    return _typed_roundtrip_agg(back)


QUERIES = {
    "q_csv_roundtrip": q_csv_roundtrip,
    "q_orc_roundtrip": q_orc_roundtrip,
    "q_json_roundtrip": q_json_roundtrip,
}

# Same semantics as p_fact_build: the CSV layer must be lossless at
# minute grain (the reference's wire format drops sub-minute precision,
# so the oracle truncates identically).
ORACLES: dict[str, str] = {
    "q_csv_roundtrip": """
        SELECT event_id::BIGINT AS event_id, user_id::INT AS user_id,
               event_type,
               date_trunc('minute', ts) AS event_ts,
               epoch(date_trunc('minute', ts))::INT AS timestamp_id
        FROM events
    """,
    "q_orc_roundtrip": """
        SELECT event_type, count(1)::BIGINT AS cnt,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value,
               date_trunc('microsecond', min(ts)) AS min_ts,
               max(event_id)::BIGINT AS max_event_id
        FROM events GROUP BY event_type ORDER BY event_type
    """,
}

# identical shape to the ORC roundtrip: both formats must preserve the
# typed columns exactly, so both share the parquet-sourced oracle.
ORACLES["q_json_roundtrip"] = ORACLES["q_orc_roundtrip"]


def read_csv_quarantine(
    spark: SparkSession, path: str, columns: list[str], header: bool = True
) -> DataFrame:
    """CSV scan that *quarantines* malformed rows instead of silently
    nulling them (PERMISSIVE default) or killing the job (FAILFAST):
    rows that fail the schema land intact in ``_corrupt_record``
    (typed columns of such a row may hold partially-parsed, possibly
    column-shifted tokens — do NOT read them; only the raw line is
    trustworthy). Downstream splits on
    ``_corrupt_record IS NULL`` — clean rows continue, bad rows go to a
    dead-letter sink with full fidelity for replay. At 100 TB some rows
    ARE malformed; the pipeline's integrity comes from accounting for
    them, not from hoping. (The all-string schema means only structural
    damage — ragged quoting, embedded delimiters — trips this, exactly
    the failures the reference's sed pass papered over.)"""
    schema = string_schema(columns).add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("multiLine", "true")  # quoted newlines are VALID rows
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def split_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, dead_letter) from a quarantine read. The corrupt-record
    column is dropped from the clean side; the dead-letter side keeps
    the raw line verbatim. The parsed frame is held by the query scope:
    evaluate the dead-letter side before the scope is next released,
    or Spark refuses its plan."""
    # the cache is REQUIRED, not an optimization: Spark refuses plans
    # that reference ONLY the corrupt-record column of a raw CSV/JSON
    # scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the
    # dead-letter side is exactly that shape); caching the parsed frame
    # is the documented workaround.
    raw = retain(raw)
    clean = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    dead = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, dead


def read_json_quarantine(
    spark: SparkSession, path: str, schema: "T.StructType"
) -> DataFrame:
    """JSON-lines scan with the same dead-letter discipline as
    :func:`read_csv_quarantine`: records that fail to parse (truncated
    lines, type clashes against the explicit schema, bare garbage) land
    verbatim in ``_corrupt_record`` instead of silently nulling fields
    or failing the job; :func:`split_quarantine` routes them. Event
    collectors emit malformed NDJSON at a steady rate at 100 TB —
    quarantine-and-replay is the only posture that neither drops nor
    dies."""
    full = T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
