"""Distributed order statistics — exact global row numbers per group
WITHOUT funneling any group through a single task.

``Window.partitionBy(k).orderBy(...)`` hash-shuffles every row of a
group to ONE task: correct, and fine when the partition key is
high-cardinality, but a low-cardinality key (5 event types) at 100 TB
means 5 tasks each sorting 20 TB — the single-partition-window
pathology. The r10 100× sweep measured the declared ntile query at
22.7s/10M rows on exactly this shape.

This module computes the same exact ranks with the classic
distributed recipe, all within one range exchange:

1. ``repartitionByRange(key, *order)`` + ``sortWithinPartitions`` —
   rows arrive globally sorted across partitions (range boundaries),
   locally sorted within each; every task holds a contiguous slice of
   each key's order. ONE shuffle, the same exchange a sorted write
   pays, parallelism = #partitions regardless of key cardinality.
2. A metadata pass counts rows per (physical partition, key) — output
   is bounded by #partitions × #keys (tiny), collected to the driver,
   prefix-summed into per-(partition, key) START OFFSETS, broadcast.
3. An Arrow-batched ``mapInPandas`` assigns ``rn = offset + local
   cumcount`` in one vectorized pass per batch (pandas groupby
   cumcount — no per-row Python).

The sorted relation is persisted (MEMORY_AND_DISK) between the
metadata pass and the rank pass so the range exchange runs once.

From ``rn`` and the per-key totals (a tiny literal map expression —
no join at all), the SQL distribution-rank family falls out exactly:

* ``ntile(n)``: SQL semantics — base size s = N div n, remainder
  r = N mod n, first r buckets carry s+1 rows;
* ``percent_rank`` = (rank−1)/(N−1) (a unique ORDER BY tie-break makes
  rank == rn; single-row groups define 0.0);
* ``cume_dist`` = rn/N (again exact under a unique tie-break).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scope import register, retain

#: driver-collect ceiling on (partition, key) metadata cells, and the
#: literal-map ceiling on distinct keys (a create_map with ~1M literal
#: children is a driver-side analysis blowup even when the cell count
#: passes — r10 review finding).
_MAX_CELLS = 2_000_000
_MAX_KEYS = 10_000


def ranked_by_group(
    df: DataFrame, part_col: str, order_cols: list[str], num_partitions: int | None = None
) -> tuple[DataFrame, dict]:
    """(df + ``rn`` column, {key: group row count}) —
    exact 1-based row number of every row within its ``part_col`` group
    under ``order_cols``, distributed per the module recipe.
    ``order_cols`` must end in a unique tie-break for deterministic
    ranks. A NULL group key is ranked like any other group (window-form
    parity). ``part_col`` must NOT be a floating-point column: pandas
    ``dropna=False`` folds NaN into the NULL group while Spark's
    window/groupBy ranks NaN as a distinct non-null value, so float-key
    parity would silently break on NaN (ADVICE r10) — guarded loudly.

    Eagerness note: construction runs the range exchange + the
    metadata aggregation as real Spark jobs BEFORE any action on the
    returned frame (the offsets must exist to build the plan), so
    plan-only tooling pays that cost at build time. The persisted
    sorted relation and the offsets broadcast are held by the query
    scope (``scope.py``)."""
    spark = df.sparkSession
    key_type = df.schema[part_col].dataType
    if isinstance(key_type, (T.FloatType, T.DoubleType)):
        raise ValueError(
            f"ranked_by_group: {part_col} is {key_type.simpleString()} — "
            "floating-point group keys are unsupported (pandas folds NaN "
            "into the NULL group while Spark ranks NaN as a distinct "
            "value); cast the key to string/decimal or use "
            "Window.partitionBy"
        )
    n_parts = num_partitions or max(
        df.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
    )
    cols = [F.col(part_col)] + [F.col(c) for c in order_cols]
    d = retain(
        df.repartitionByRange(n_parts, *cols).sortWithinPartitions(part_col, *order_cols)
    )
    # metadata pass: #partitions × #keys rows — driver-bounded by
    # construction (the partition count and the key cardinality, never
    # the data volume). Guarded: this recipe exists for LOW-cardinality
    # keys (where the plain window is the pathology); a high-cardinality
    # key must fail loudly, not OOM the driver — and the caller should
    # just use Window.partitionBy, which is already scale-correct when
    # groups are small. ONE bounded job: limit(cap+1) + collect (a
    # separate count() would run the identical aggregation twice).
    pid_counts = (
        d.select(F.spark_partition_id().alias("pid"), part_col)
        .groupBy("pid", part_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(_MAX_CELLS + 1)
        .collect()
    )
    if len(pid_counts) > _MAX_CELLS:
        raise ValueError(
            f"ranked_by_group: more than {_MAX_CELLS} (partition, "
            f"{part_col}) cells — this distributed-rank recipe is for "
            "low-cardinality group keys; a high-cardinality key is "
            "exactly the case where Window.partitionBy already scales "
            "(small groups, no single-task funnel)"
        )
    per_key: dict = defaultdict(list)
    for r in pid_counts:
        per_key[r[part_col]].append((r["pid"], r["n"]))
    if len(per_key) > _MAX_KEYS:
        raise ValueError(
            f"ranked_by_group: {len(per_key)} distinct {part_col} keys — "
            f"the literal per-key-N map caps at {_MAX_KEYS} entries; use "
            "Window.partitionBy for high-cardinality keys"
        )
    offsets: dict = {}
    totals: dict = {}
    for key, lst in per_key.items():
        lst.sort()
        acc = 0
        for pid, n in lst:
            offsets[(pid, key)] = acc
            acc += n
        totals[key] = acc
    bc = register(spark.sparkContext.broadcast(offsets))

    # fresh StructType: StructType.add MUTATES the receiver, and
    # d.schema is the live schema object of d itself
    out_schema = T.StructType(
        list(d.schema.fields) + [T.StructField("rn", T.LongType())]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # vectorized local rank: rows arrive key-sorted, so per-key
            # cumcount + the running start carried across batches is rn.
            # dropna=False everywhere: a NULL group key is a real group
            # (the window form ranks it; pandas drops NaN groups by
            # default and would emit NULL ranks — r10 review finding).
            local = (
                pdf.groupby(part_col, sort=False, dropna=False).cumcount() + 1
            )
            counts = pdf[part_col].value_counts(sort=False, dropna=False)
            starts = {}
            for key_raw, n in counts.items():
                key = None if pd.isna(key_raw) else key_raw
                base = seen.get(key)
                if base is None:
                    base = bc.value.get((pid, key), 0)
                starts[key] = base
                seen[key] = base + int(n)
            # fast dict-map for real keys; pandas treats None/NaN as
            # missing (no dict lookup), so the NULL group's base is
            # patched in with a vectorized where
            bases = pdf[part_col].map(starts)
            if None in starts:
                bases = bases.where(pdf[part_col].notna(), starts[None])
            out = pdf.copy()
            out["rn"] = local.values + bases.astype("int64").values
            yield out

    return d.mapInPandas(op, schema=out_schema), totals


def _totals_expr(part_col: str, totals: dict) -> Column:
    """Per-key group size as a LITERAL map expression — #keys is small
    by the guarded contract, so no join (not even a broadcast one) is
    needed to attach N. A NULL key cannot live in a map, so its total
    rides a separate isNull branch (the window form ranks the NULL
    group; so must this path — r10 review finding). Empty input → a
    typed NULL (an argless create_map() is map<void,void> and fails
    analysis against a real key column)."""
    null_total = totals.get(None)
    nonnull = {k: n for k, n in totals.items() if k is not None}
    if not nonnull:
        mapped = F.lit(None).cast("long")
    else:
        pairs: list[Column] = []
        for key, n in nonnull.items():
            pairs.append(F.lit(key))
            pairs.append(F.lit(n))
        mapped = F.create_map(*pairs)[F.col(part_col)]
    if null_total is None:
        return mapped
    return F.when(F.col(part_col).isNull(), F.lit(null_total)).otherwise(mapped)


def distribution_ranks(
    df: DataFrame, part_col: str, order_cols: list[str], n_buckets: int
) -> DataFrame:
    """df + (rn, n_part, quartile-style ``bucket``, ``pct_rank``,
    ``cume``) with EXACT SQL window semantics (ntile / percent_rank /
    cume_dist over ``partition by part_col order by order_cols``),
    computed scale-out per the module recipe."""
    ranked, totals = ranked_by_group(df, part_col, order_cols)
    n = F.lit(n_buckets)
    N = _totals_expr(part_col, totals)
    s = (N / n).cast("long")  # base bucket size (floor)
    r = N % n  # first r buckets carry s+1 rows
    rn = F.col("rn")
    head = r * (s + 1)
    bucket = (
        F.when(rn <= head, ((rn - 1) / (s + 1)).cast("long"))
        .otherwise(r + ((rn - head - 1) / s).cast("long"))
        + 1
    )
    pct = F.when(N > 1, (rn - 1).cast("double") / (N - 1).cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        ranked.withColumn("n_part", N)
        .withColumn("bucket", bucket.cast("int"))
        .withColumn("pct_rank", pct)
        .withColumn("cume", rn.cast("double") / N.cast("double"))
    )
