"""Scalar-function helpers shared across plans and operators.

Covers the reference's scalar surface (SURVEY.md §2.9): calendar
extraction (``spark/transform_load.py:115-120``), epoch surrogate keys
(``:113,205-207``), synthetic string keys (``:284``), day-number window
ordering (``sql/aggregations.sql:38``), plus exact-aggregation helpers
used to make double sums order-independent for oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type used for exact, order-independent SUMs over double
#: columns. Decimal addition is associative, so the result is identical
#: regardless of partitioning/shuffle order — both at local[32] and on a
#: 1000-executor cluster — and matches DuckDB bit-for-bit.
EXACT_DECIMAL = "decimal(18,6)"
MONEY_DECIMAL = "decimal(18,2)"


def exact_sum_col(col: str | Column, scale: str = EXACT_DECIMAL) -> Column:
    """THE hash-equality-bearing recipe, unaliased:
    SUM(CAST(x AS DECIMAL)) → string → double. Every exact money/metric
    sum in the repo must route through here (or the aliased wrappers
    below) so the recipe has exactly one definition — the DuckDB twin
    is ``CAST(CAST(sum(CAST(x AS DECIMAL(..))) AS VARCHAR) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("string").cast("double")


def exact_sum(col: str | Column, alias: str, scale: str = EXACT_DECIMAL) -> Column:
    """SUM(CAST(x AS DECIMAL)) cast back to double. Deterministic under
    any row order; the double conversion of the exact decimal total is a
    single well-defined rounding."""
    return exact_sum_col(col, scale).alias(alias)


def exact_avg(col: str | Column, alias: str, scale: str = EXACT_DECIMAL) -> Column:
    """Order-independent mean: exact decimal SUM divided by COUNT as
    double (avoids engine-specific decimal-avg result types)."""
    c = F.col(col) if isinstance(col, str) else col
    return (exact_sum_col(c, scale) / F.count(c)).alias(alias)


def exact_row_avg(col: str | Column, alias: str, scale: str = EXACT_DECIMAL) -> Column:
    """Mean over the ROW count (count(1), the TPC-H convention) rather
    than the non-null count — use when the oracle divides by count(1)."""
    return (exact_sum_col(col, scale) / F.count(F.lit(1))).alias(alias)


def day_number(ts_col: str | Column) -> Column:
    """Days since 1970-01-01 — the numeric ORDER BY key for RANGE-frame
    windows (BigQuery ``UNIX_DATE(DATE(ts))``, ``sql/aggregations.sql:38``;
    Spark requires a numeric order key for ``rangeBetween``)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.datediff(F.to_date(c), F.lit("1970-01-01")).cast("int")


def epoch_id(ts_col: str | Column) -> Column:
    """Unix-seconds surrogate key (reference ``unix_timestamp`` int ids,
    ``spark/transform_load.py:113,205-207,277-279``)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.unix_timestamp(c).cast("int")


def synth_key(*cols: str | Column) -> Column:
    """Synthetic composite string key ``"{a}_{b}"`` (reference weather id
    ``concat_ws("_", location_id, timestamp_id)``,
    ``spark/transform_load.py:284``)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws("_", *cs)


def calendar_columns(ts_col: str | Column = "timestamp") -> dict[str, Column]:
    """The reference's calendar breakdown of ``dim_timestamp``
    (``spark/transform_load.py:115-120``): year, month, dayofmonth,
    ISO weekofyear, hour, minute — all int."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return {
        "year": F.year(c).cast("int"),
        "month": F.month(c).cast("int"),
        "dayofmonth": F.dayofmonth(c).cast("int"),
        "weekofyear": F.weekofyear(c).cast("int"),
        "hour": F.hour(c).cast("int"),
        "minute": F.minute(c).cast("int"),
    }
