"""Pipeline-builder queries (SURVEY.md §2.13, `p_*` group).

These re-express the reference's table-builder pipelines
(``spark/transform_load.py`` stages) over the synthetic tables, each with
a DuckDB oracle. The `events` table plays the role of the raw journey
feed; per-metric daily aggregates play the per-variable weather tables.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import epoch_id, exact_sum, synth_key
from ..tables import load_table
from ..warehouse import month_partition, write_partitioned
from .dim_time import build_dim_time

# ---------------------------------------------------------------------------
# p_dim_time — generated minute dimension + calendar columns
# (reference spark/transform_load.py:93-127), bounded to one month here.
# Built distributed via spark.range (see dim_time.py) instead of the
# reference's single-row sequence+explode.
# ---------------------------------------------------------------------------

def p_dim_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_time(spark, "2021-01-01 00:00:00", "2021-01-31 23:59:00")


# ---------------------------------------------------------------------------
# p_fact_build — raw all-string feed → typed fact
# (reference spark/transform_load.py:164-237: positional rename →
# dd/MM/yyyy HH:mm timestamp parse → unix-seconds surrogate ids → int
# casts → fact/dim split). The string-typed clone simulates the raw CSV
# layer; the dim split is exercised in tests/test_pipelines.py.
# ---------------------------------------------------------------------------

TS_FMT = "dd/MM/yyyy HH:mm"


def raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-string clone of events — the raw CSV read shape
    (reference assets/schema/make_schema.py:40-51)."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").cast("string").alias("Event_Id"),
        F.col("user_id").cast("string").alias("User_Id"),
        F.col("event_type").alias("Event_Type"),
        F.date_format("ts", TS_FMT).alias("Event_Date"),
        F.col("value").cast("string").alias("Value"),
    )


def _parsed_ts():
    """The one parse of the raw feed's timestamp string — both the
    event_ts column and its epoch surrogate derive from it."""
    return F.to_timestamp("event_date", TS_FMT)


def build_fact(raw: DataFrame) -> DataFrame:
    """Typed fact from the raw feed: positional rename, timestamp parse,
    epoch ids, int casts (transform_load.py:183-231)."""
    renamed = raw.toDF("event_id", "user_id", "event_type", "event_date", "value")
    return renamed.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("int").alias("user_id"),
        F.col("event_type"),
        _parsed_ts().alias("event_ts"),
        epoch_id(_parsed_ts()).alias("timestamp_id"),
        F.col("value").cast("double").alias("value"),
    )


def split_dim(fact: DataFrame) -> DataFrame:
    """Slim 1:1 dimension split off the fact (dim_rental analog,
    transform_load.py:224)."""
    return fact.select(F.col("event_id").alias("id"), "value")


def p_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = build_fact(raw_events(spark, sf_dir))
    return fact.select("event_id", "user_id", "event_type", "event_ts", "timestamp_id")


# ---------------------------------------------------------------------------
# p_weather_align — per-variable tables aligned into one dimension
# (reference transform_load.py:240-292: rainfall ⟕ tasmin ⟕ tasmax on
# (location_id, time), synthetic "{loc}_{unixts}" key). Metrics here are
# per-event-type daily sums per user. The three per-type tables share
# their grouping key, so one conditional aggregate over one scan and one
# shuffle replaces the two left joins of three separate aggregates.
# ---------------------------------------------------------------------------

_ALIGNED_TYPES = ("click", "view", "purchase")


def build_aligned_weather(events: DataFrame) -> DataFrame:
    kind = F.col("event_type")
    daily = (
        events.where(kind.isin(*_ALIGNED_TYPES))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.when(kind == "click", 1)).alias("n_click"),
            *(
                exact_sum(F.when(kind == t, F.col("value")), f"{t}_value")
                for t in _ALIGNED_TYPES
            ),
        )
        # the click table drives the left joins: only its groups survive
        .where(F.col("n_click") > 0)
    )
    # a NULL join key never matches, so a NULL-keyed click group had no
    # view/purchase partner in the joined form
    keyed = F.col("user_id").isNotNull() & F.col("day").isNotNull()
    day_epoch = epoch_id(F.col("day").cast("timestamp"))
    return daily.select(
        synth_key(F.col("user_id"), day_epoch).alias("id"),
        "user_id",
        # day kept as midnight timestamp (not DATE) so the oracle value
        # comparison is representation-stable across engines.
        F.col("day").cast("timestamp").alias("day"),
        "click_value",
        F.when(keyed, F.col("view_value")).alias("view_value"),
        F.when(keyed, F.col("purchase_value")).alias("purchase_value"),
    )


def p_weather_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_aligned_weather(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# p_weather_ids — calendar-grain enrichment of the fact with start and
# end observation ids (reference transform_load.py:295-400). Each side
# joins once on (user, DATE) instead of the reference's year/month/
# dayofmonth triple key, LEFT to tolerate missing observations
# (docs/3_data_transformation.md:32). The two joins are chained onto the
# fact, because the reference's J5 re-merge of two enriched copies on
# event_id re-shuffles the whole fact for the same rows.
# ---------------------------------------------------------------------------

def p_weather_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # the aligned dimension's rows are exactly the click days and only
    # its id is joined, so its view and purchase sums are never computed.
    # Both joins read this one projection: identical build sides let the
    # second join reuse the first one's exchange. DATE == DATE on both
    # sides, as in engine.py.
    days = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("w_user"), F.to_date("ts").alias("w_day"))
        .distinct()
    )
    weather = days.select(
        "w_user",
        "w_day",
        synth_key(F.col("w_user"), epoch_id(F.col("w_day").cast("timestamp"))).alias("w_id"),
    )
    fact = events.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    for side, ts_col in (("start", "ts"), ("end", "end_ts")):
        fact = (
            fact.join(
                weather,
                (F.col("user_id") == F.col("w_user"))
                & (F.to_date(ts_col) == F.col("w_day")),
                "left",
            )
            .drop("w_user", "w_day")
            .withColumnRenamed("w_id", f"{side}_weather_id")
        )
    return fact.select("event_id", "start_weather_id", "end_weather_id")


# ---------------------------------------------------------------------------
# p_incremental_append — month-partitioned warehouse write with
# idempotent re-run (reference transform_load.py:425-509: first-run
# overwrite, later append; rebuilt as dynamic partition overwrite).
# The callable actually exercises the write path into a temp warehouse
# dir, re-runs the last month, and returns the partition inventory.
# ---------------------------------------------------------------------------

def p_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Note on gate strength: every fixture's events span ONE month, so
    the 'replaces only that partition' property is vacuous under the
    differential gate (one partition either way) — the multi-month
    overwrite discipline is pinned by
    tests/test_engine.py::test_month_rerun_is_idempotent instead."""
    import atexit
    import os
    import shutil

    from ..tables import table_row_count

    events = load_table(spark, sf_dir, "events").withColumn("ym", month_partition("ts"))
    out = tempfile.mkdtemp(prefix="warehouse_fact_")
    # swept at interpreter exit (not earlier: the returned DataFrame is
    # lazily bound to these files) — repeated harness rounds must not
    # accumulate full table copies in /tmp.
    atexit.register(shutil.rmtree, out, ignore_errors=True)

    # the empty-source check reads the parquet footer row count and the
    # latest month comes from the written partition directory names, so
    # no pre-write scan computes those two scalars.
    if table_row_count(sf_dir, "events") == 0:
        # truly empty source: nothing is written, so the result is the
        # empty aggregate over the (empty) input relation itself.
        return events.groupBy("ym").agg(F.count(F.lit(1)).alias("cnt")).orderBy("ym")
    write_partitioned(events, out, ["ym"], mode="overwrite")
    # partition inventory from the directory layout ("ym=yyyyMM" dirs;
    # yyyyMM is fixed-width so string max == chronological max). Rows
    # with a NULL ym land in the Hive default partition, which is
    # excluded — matching max(ym)'s null-ignoring semantics.
    months = sorted(
        e.name.split("=", 1)[1]
        for e in os.scandir(out)
        if e.is_dir()
        and e.name.startswith("ym=")
        and "__HIVE_DEFAULT_PARTITION__" not in e.name
    )
    if months:
        # idempotent re-run of the latest month: dynamic overwrite
        # replaces only that partition. (With every ym NULL there is no
        # latest month to re-run.)
        write_partitioned(
            events.where(F.col("ym") == months[-1]), out, ["ym"], mode="overwrite"
        )
    # the written schema is the source's (ym a string, as partition type
    # inference is off), so supplying it skips the footer-inference job
    back = spark.read.schema(events.schema).parquet(out)
    return (
        back.groupBy("ym")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("ym")
    )


ORACLES: dict[str, str] = {
    "p_dim_time": """
        SELECT epoch(ts)::INT AS id, ts AS timestamp,
               year(ts)::INT AS year, month(ts)::INT AS month,
               dayofmonth(ts)::INT AS dayofmonth,
               weekofyear(ts)::INT AS weekofyear,
               hour(ts)::INT AS hour, minute(ts)::INT AS minute
        FROM generate_series(TIMESTAMP '2021-01-01 00:00:00',
                             TIMESTAMP '2021-01-31 23:59:00',
                             INTERVAL 1 MINUTE) t(ts)
    """,
    "p_fact_build": """
        SELECT event_id::BIGINT AS event_id, user_id::INT AS user_id,
               event_type,
               date_trunc('minute', ts) AS event_ts,
               epoch(date_trunc('minute', ts))::INT AS timestamp_id
        FROM events
    """,
    "p_weather_align": """
        WITH click AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS click_value
            FROM events WHERE event_type = 'click' GROUP BY 1, 2
        ), v AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY 1, 2
        ), p AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        )
        SELECT concat_ws('_', click.user_id, epoch(CAST(click.day AS TIMESTAMP))::INT) AS id,
               click.user_id, CAST(click.day AS TIMESTAMP) AS day,
               click_value, view_value, purchase_value
        FROM click
        LEFT JOIN v ON click.user_id = v.user_id AND click.day = v.day
        LEFT JOIN p ON click.user_id = p.user_id AND click.day = p.day
    """,
    "p_weather_ids": """
        WITH click AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   concat_ws('_', user_id, epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP))::INT) AS id
            FROM events WHERE event_type = 'click' GROUP BY 1, 2
        ), fact AS (
            SELECT event_id, user_id, ts, ts + INTERVAL 1 HOUR AS end_ts FROM events
        )
        SELECT fact.event_id, s.id AS start_weather_id, e.id AS end_weather_id
        FROM fact
        LEFT JOIN click s ON fact.user_id = s.user_id AND CAST(fact.ts AS DATE) = s.day
        LEFT JOIN click e ON fact.user_id = e.user_id AND CAST(fact.end_ts AS DATE) = e.day
    """,
    "p_incremental_append": """
        SELECT strftime(ts, '%Y%m') AS ym, count(1)::BIGINT AS cnt
        FROM events GROUP BY ym ORDER BY ym
    """,
}

QUERIES = {
    "p_dim_time": p_dim_time,
    "p_fact_build": p_fact_build,
    "p_weather_align": p_weather_align,
    "p_weather_ids": p_weather_ids,
    "p_incremental_append": p_incremental_append,
}

BENCH = [
    "p_dim_time",
    "p_fact_build",
    "p_weather_align",
    "p_weather_ids",
    # write-path query (temp-warehouse append); bench coverage is
    # guaranteed by the registry top-up — this entry orders the sweep
    "p_incremental_append",
]
