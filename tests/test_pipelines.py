"""Golden / property tests for the pipeline builders (reference
semantics from spark/transform_load.py, per SURVEY.md §5.2)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from tfl_bikes_data_pipeline_spark.plans.dim_time import build_dim_time
from tfl_bikes_data_pipeline_spark.plans.pipelines import (
    build_fact,
    raw_events,
    split_dim,
)
from tfl_bikes_data_pipeline_spark.warehouse import month_partition, write_partitioned


def test_dim_time_reference_range_rowcount(spark):
    """The reference's full range (2016-01-01..2022-01-31 23:59, minute
    grain) is ~3.2M rows (BASELINE.md): exactly 3,201,120 minutes
    (2,223 days plus the final 23:59 row, SURVEY.md §5.2)."""
    df = build_dim_time(spark)
    assert df.count() == 3_201_120


def test_dim_time_calendar_golden(spark):
    row = (
        build_dim_time(spark, "2021-01-01 00:00:00", "2021-01-01 00:01:00")
        .orderBy("id")
        .first()
    )
    assert row.year == 2021 and row.month == 1 and row.dayofmonth == 1
    assert row.weekofyear == 53  # ISO week of 2021-01-01
    assert row.hour == 0 and row.minute == 0
    assert row.id == 1609459200  # unix seconds surrogate key


def test_fact_build_types_and_ids(spark, sf_dir):
    fact = build_fact(raw_events(spark, sf_dir))
    assert dict(fact.dtypes)["event_id"] == "bigint"
    assert dict(fact.dtypes)["timestamp_id"] == "int"
    assert dict(fact.dtypes)["event_ts"] == "timestamp"
    r = fact.where(F.col("event_ts").isNotNull()).first()
    # surrogate id == unix seconds of the minute-grain timestamp
    assert r.timestamp_id == int(r.event_ts.timestamp())
    # dim split is 1:1 with the fact
    assert split_dim(fact).count() == fact.count()


def test_incremental_append_idempotent_month_rerun(spark):
    """Re-running a month must replace, not duplicate, that month's
    partition (dynamic partition overwrite), and leave other months
    untouched — the reference's first-run-overwrite/append flip."""
    from datetime import datetime

    rows = [
        (1, datetime(2021, 1, 5), 10.0),
        (2, datetime(2021, 1, 20), 11.0),
        (3, datetime(2021, 2, 3), 12.0),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double").withColumn(
        "ym", month_partition("ts")
    )
    out = tempfile.mkdtemp(prefix="idempotent_")
    write_partitioned(df, out, ["ym"], mode="overwrite")

    # re-run January only — with a corrected row set (one row dropped)
    jan_fixed = df.where((F.col("ym") == "202101") & (F.col("id") != 2))
    write_partitioned(jan_fixed, out, ["ym"], mode="overwrite")

    back = spark.read.parquet(out)
    counts = {r.ym: r.cnt for r in back.groupBy("ym").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"202101": 1, "202102": 1}


def test_null_accounting_left_join_tolerance(spark, sf_dir):
    """Reference tolerates missing weather (LEFT joins,
    docs/3_data_transformation.md:32): enrichment ids may be null but
    every fact row must survive."""
    from tfl_bikes_data_pipeline_spark.plans.pipelines import p_weather_ids
    from tfl_bikes_data_pipeline_spark.tables import load_table

    out = p_weather_ids(spark, sf_dir)
    assert out.count() == load_table(spark, sf_dir, "events").count()


#: events with NULL user_id and NULL ts rows in every aligned event type,
#: a view-only day, a NULL event_type and NULL values
_NULL_KEY_EVENTS = """
    SELECT event_id::BIGINT AS event_id, ts::TIMESTAMP AS ts,
           user_id::BIGINT AS user_id, event_type, value::DOUBLE AS value
    FROM (VALUES
        (1, '2024-01-01 10:00:00', 1, 'click', 1.5),
        (2, '2024-01-01 11:00:00', 1, 'view', 2.25),
        (3, '2024-01-01 12:00:00', 1, 'purchase', 3.0),
        (4, '2024-01-01 23:30:00', 1, 'click', NULL),
        (5, '2024-01-02 09:00:00', 1, 'view', 4.0),
        (6, '2024-01-02 00:30:00', 2, 'click', 5.0),
        (7, '2024-01-02 00:45:00', 2, 'purchase', NULL),
        (8, '2024-01-01 08:00:00', NULL, 'click', 6.0),
        (9, '2024-01-01 09:00:00', NULL, 'view', 7.0),
        (10, '2024-01-01 10:00:00', NULL, 'purchase', 8.0),
        (11, NULL, 3, 'click', 9.0),
        (12, NULL, 3, 'view', 10.0),
        (13, NULL, 3, 'purchase', 11.0),
        (14, NULL, NULL, 'click', 12.0),
        (15, NULL, NULL, 'view', 13.0),
        (16, '2024-01-01 13:00:00', 1, NULL, 14.0),
        (17, '2024-01-03 13:00:00', 4, 'view', 1.0)
    ) t(event_id, ts, user_id, event_type, value)
"""


@pytest.mark.parametrize("name", ["p_weather_align", "p_weather_ids", "q_profile_nulls"])
def test_aligned_weather_null_keys_match_oracle(spark, tmp_path, name):
    """NULL keys never match in the oracle's left joins, so a NULL-keyed
    click group carries no view/purchase sums even where same-keyed
    view/purchase rows exist."""
    import duckdb

    from tfl_bikes_data_pipeline_spark import registry

    from .oracle_utils import assert_matches_oracle

    con = duckdb.connect()
    path = tmp_path / "events.parquet"
    con.execute(f"COPY ({_NULL_KEY_EVENTS}) TO '{path}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    df = registry.QUERIES[name](spark, str(tmp_path))
    assert_matches_oracle(df, con, registry.ORACLES[name], name)


def test_events_load_applies_no_filter(spark, sf_dir):
    """p_incremental_append trusts the footer row count and supplies the
    source schema to its read-back; both hold only while the events
    load is an unfiltered scan."""
    from tfl_bikes_data_pipeline_spark.tables import load_table

    plan = load_table(spark, sf_dir, "events")._jdf.queryExecution().analyzed().toString()
    assert "Filter" not in plan, plan


def test_events_footer_row_count_matches_scan(spark, sf_dir):
    from tfl_bikes_data_pipeline_spark.tables import load_table, table_row_count

    assert table_row_count(sf_dir, "events") == load_table(spark, sf_dir, "events").count()


def test_warehouse_read_back_schema_matches_inferred(spark, sf_dir, tmp_path):
    from tfl_bikes_data_pipeline_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").withColumn("ym", month_partition("ts"))
    out = str(tmp_path / "warehouse")
    write_partitioned(events, out, ["ym"], mode="overwrite")
    inferred = spark.read.parquet(out).schema
    supplied = spark.read.schema(events.schema).parquet(out).schema
    assert [(f.name, f.dataType) for f in supplied] == [
        (f.name, f.dataType) for f in inferred
    ]


def test_scan_split_estimate_on_many_small_files(spark, tmp_path):
    """The estimate is Spark's own split count, including the per-file
    open cost and the bytes-per-core split size, for many small files,
    for every single-file fixture table and under a changed
    maxPartitionBytes or minPartitionNum."""
    import math
    import os

    from tests.conftest import SF_CORRECT
    from tfl_bikes_data_pipeline_spark.tables import (
        TABLE_NAMES,
        ensure_scan_parallelism,
        load_table,
        scan_split_estimate,
    )

    out = str(tmp_path / "small")
    spark.range(64).repartition(16).write.parquet(out)
    df = spark.read.parquet(out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 16

    assert scan_split_estimate(df, spark) == df.rdd.getNumPartitions()
    if spark.sparkContext.defaultParallelism >= 2:
        # 16 row groups over one split per slot: no shuffle needed
        assert ensure_scan_parallelism(df, spark) is df

    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    for name in TABLE_NAMES:
        table = load_table(spark, SF_CORRECT, name)
        size = os.path.getsize(f"{SF_CORRECT}/{name}.parquet")
        assert scan_split_estimate(table, spark) == table.rdd.getNumPartitions(), name
        # the estimate before open costs and bytes per core were counted:
        # every single-file fixture keeps it, so each keeps its widening
        assert scan_split_estimate(table, spark) == math.ceil(size / max_bytes) == 1, name
        assert ensure_scan_parallelism(table, spark) is not table, name

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "256b")
    try:
        df = spark.read.parquet(out)  # DataFrame.rdd is cached per frame
        assert scan_split_estimate(df, spark) == df.rdd.getNumPartitions() > 16
        # one row group cut into many splits still runs on one core
        lineitem = load_table(spark, SF_CORRECT, "lineitem")
        assert scan_split_estimate(lineitem, spark) == lineitem.rdd.getNumPartitions() > 1
        assert ensure_scan_parallelism(lineitem, spark) is not lineitem
    finally:
        spark.conf.set(key, prev)

    # minPartitionNum replaces the slot count in the bytes per core
    spark.conf.set("spark.sql.files.minPartitionNum", "16")
    try:
        df = spark.read.parquet(out)
        assert scan_split_estimate(df, spark) == df.rdd.getNumPartitions() == 16
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
