"""Minute-grain time dimension generator.

Reference: ``spark/transform_load.py:93-127`` builds ``dim_timestamp`` by
exploding ``sequence(to_timestamp('2016-01-01'), to_timestamp('2022-01-31
23:59'), interval 1 minute)`` from a 1-row seed DataFrame — the whole
~3.2M-element array materializes on a single row, on a single task.

Scale-first rewrite: ``spark.range(n)`` is already a distributed,
splittable source; each partition generates its slice of minutes
independently, so the builder parallelizes to any cluster width with no
shuffle at all. Semantics (ids = unix seconds, calendar columns,
inclusive bounds) match the reference exactly.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import calendar_columns

REFERENCE_START = "2016-01-01 00:00:00"
REFERENCE_END = "2022-01-31 23:59:00"


def _epoch(ts: str) -> int:
    return int(datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp())


def build_dim_time(
    spark: SparkSession,
    start: str = REFERENCE_START,
    end: str = REFERENCE_END,
    step_seconds: int = 60,
) -> DataFrame:
    """Time dimension: one row per ``step_seconds`` in [start, end].

    Columns: id (unix sec, int), timestamp, year, month, dayofmonth,
    weekofyear (ISO), hour, minute — per ``spark/transform_load.py:110-120``.
    """
    start_s, end_s = _epoch(start), _epoch(end)
    n = (end_s - start_s) // step_seconds + 1
    # one projection: each withColumn re-analyzes the whole plan
    epoch = (F.lit(start_s) + F.col("id") * step_seconds).cast("int")
    ts = F.timestamp_seconds(epoch)
    return spark.range(n).select(
        epoch.alias("id"),
        ts.alias("timestamp"),
        *(col.alias(name) for name, col in calendar_columns(ts).items()),
    )
