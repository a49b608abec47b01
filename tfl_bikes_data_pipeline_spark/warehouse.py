"""Partitioned-Parquet warehouse helpers.

Stands in for the reference's BigQuery warehouse: month-partitioned
tables with first-run-overwrite / later-append semantics
(``spark/transform_load.py:58-90,438,496-509``;
``airflow/dags/spark_transform_load.py:196-211``).

Scale posture: partition columns are low-cardinality (YYYYMM), so a
write produces one directory per month; ``partitionOverwriteMode=dynamic``
(set in the session factory) makes month re-runs idempotent — only the
months present in the incoming frame are replaced, never the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def month_partition(ts_col: str = "ts") -> "F.Column":
    """YYYYMM string partition value (reference directory layout
    ``{table}/{YYYYMM}/``, ``airflow/dags/ingest_bike_data.py:353``)."""
    return F.date_format(F.col(ts_col), "yyyyMM")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "append",
) -> None:
    """Write a partitioned parquet table.

    mode="overwrite" with dynamic partition overwrite replaces only the
    partitions present in ``df`` — the idempotent month re-run.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_warehouse(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    location: str,
    sort_col: str | None = None,
) -> None:
    """Catalog-managed bucketed table: rows hash-partitioned into
    ``n_buckets`` files by ``bucket_col`` at write time. Two tables
    bucketed the same way equi-join with ZERO exchange — the shuffle is
    paid once at ingest instead of per query, the decisive layout for
    repeated fact⨝fact joins at 100 TB (asserted in
    tests/test_plan_quality.py). Optional per-bucket sort enables
    sort-merge without a sort step."""
    writer = df.write.mode("overwrite").option("path", location).bucketBy(
        n_buckets, bucket_col
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def _swap_staged_partitions(
    spark: SparkSession, staging: str, path: str, depth: int
) -> None:
    """Promote every leaf partition directory written under ``staging``
    into the live table at ``path`` via filesystem renames (Hadoop
    FileSystem API — metadata moves on HDFS/local, the same code path a
    cluster deployment uses).

    Crash safety — PAIRWISE per-partition swap: for each staged
    partition, (a) move the conflicting live dir aside to a
    dot-prefixed trash name, (b) promote the staged dir, (c) drop that
    partition's trash — then move to the next. A reader can therefore
    observe at most ONE partition mid-flip at any instant (the earlier
    all-aside-then-all-promote scheme hid EVERY touched partition
    during its window — review r5). Renames are CHECKED (Hadoop FS
    returns false on failure, it does not raise) and every RECOVERY
    rename is guarded against throwing (a degraded filesystem may
    raise instead of returning false). A failure leaves: all earlier
    partitions fully promoted (complete new data, nothing to recover),
    the failing partition either restored or with its old data named
    in the error, and all later partitions untouched. Trash and
    staging dirs are dot-prefixed, so the table stays READABLE by
    Spark's parquet reader at every instant. Contrast in-place dynamic
    overwrite, whose mid-commit failure can delete partitions it has
    not yet rewritten."""
    import uuid

    jvm = spark._jvm
    JPath = jvm.org.apache.hadoop.fs.Path
    fs = JPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    # fully qualify BOTH roots before computing partition-relative
    # paths: listStatus returns qualified (absolute) leaf paths, so a
    # relative table path would desynchronize the prefix slice and
    # promote into a bogus nested directory.
    live_root = fs.makeQualified(JPath(path))
    staging_root = fs.makeQualified(JPath(staging))

    def _try_rename(src, dest) -> bool:
        try:
            return bool(fs.rename(src, dest))
        except Exception:
            return False

    # walk to leaf partition dirs (depth = number of partition columns)
    leaves = [staging_root]
    for _ in range(depth):
        nxt = []
        for d in leaves:
            for s in fs.listStatus(d):
                if s.isDirectory():
                    nxt.append(s.getPath())
        leaves = nxt

    staging_uri = staging_root.toUri().getPath()
    promoted: list[str] = []
    for leaf in leaves:
        rel = leaf.toUri().getPath()[len(staging_uri) :].lstrip("/")
        dst = JPath(live_root, rel)
        fs.mkdirs(dst.getParent())
        trash = None
        if fs.exists(dst):
            trash = JPath(
                dst.getParent(), f".{dst.getName()}.old-{uuid.uuid4().hex[:8]}"
            )
            if not fs.rename(dst, trash):
                raise IOError(
                    f"failed to move live partition {dst} aside; partitions "
                    f"promoted so far (complete new data): {promoted or 'none'}; "
                    f"{dst} and all later partitions unchanged"
                )
        if not fs.rename(leaf, dst):
            restored = trash is not None and _try_rename(trash, dst)
            raise IOError(
                f"failed to promote staged partition {leaf} to {dst} "
                f"({'old data restored for it' if restored else 'no old data to restore' if trash is None else f'restore from {trash} ALSO failed — old data preserved there'}); "
                f"partitions promoted so far (complete new data): "
                f"{promoted or 'none'}; later partitions unchanged; staged "
                f"data remains under {staging_root}"
            )
        if trash is not None:
            fs.delete(trash, True)
        promoted.append(str(dst))

    fs.delete(staging_root, True)


def _stage_and_swap_rewrite(
    spark: SparkSession,
    df,
    path: str,
    partition_cols: list[str],
) -> None:
    """Write ``df`` partitioned into a sibling staging directory, then
    swap each written partition into the live table. Only partitions
    present in ``df`` are touched (dynamic-overwrite semantics), the
    source read never races its own overwrite, and readers see each
    partition flip atomically.

    Cleanup policy: a failure during the STAGING WRITE deletes the
    staging dir (the live table has not been touched, so nothing is
    lost). A failure during the SWAP deliberately KEEPS the staging
    dir — at that point it may hold the only complete copy of a
    partition whose live dir was already moved to trash, and deleting
    it would turn a recoverable fault into data loss."""
    import uuid

    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    except Exception:
        jvm = spark._jvm
        jstaging = jvm.org.apache.hadoop.fs.Path(staging)
        fs = jstaging.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jstaging, True)
        raise
    _swap_staged_partitions(spark, staging, path, len(partition_cols))


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    partitions: list | None = None,
) -> None:
    """Rewrite a partitioned table's fragmented partitions into
    ``files_per_partition`` files each — the small-files maintenance
    pass every incremental warehouse needs (weekly appends leave one
    file per batch per month; a year later each month is hundreds of
    tiny files and scan planning drowns in footer reads).

    Content is untouched: read → repartition → stage-and-swap. The
    rewrite lands in a sibling staging dir first, then each partition
    directory is renamed into place (``_swap_staged_partitions``), so
    only the listed ``partitions`` (default: all) are replaced, a crash
    at ANY point leaves the table readable, and concurrent READERS of
    other partitions never see a change. Concurrent WRITERS are NOT
    safe: a batch appended to a partition between this function's read
    and its swap is replaced by the pre-append compacted copy — run
    maintenance under the same writer exclusion every rewrite-based
    OPTIMIZE requires.

    Multi-file layout: ``repartition(n, cols)`` would hash ALL rows of
    one partition value into ONE task (one file regardless of n — the
    earlier silent bug; review r5), so ``files_per_partition > 1``
    adds a deterministic row-hash salt to the repartition keys: up to
    that many files per partition directory, rows split content-hash
    stably. At cluster scale pick the count from target file size
    (~128 MB)."""
    df = spark.read.parquet(path)
    if partitions is not None:
        df = df.where(F.col(partition_cols[0]).isin(partitions))
    compacted = _repartition_for_layout(df, partition_cols, files_per_partition)
    _stage_and_swap_rewrite(spark, compacted, path, partition_cols)


def _repartition_for_layout(
    df: DataFrame, partition_cols: list[str], files_per_partition: int
) -> DataFrame:
    """Distribute rows so each partition directory gets up to
    ``files_per_partition`` output files: hash-partition on the
    partition columns plus (when >1) a deterministic per-row salt —
    ``pmod(xxhash64(all columns), n)`` — so the file split is stable
    across runs (no rand())."""
    parts = [F.col(c) for c in partition_cols]
    if files_per_partition <= 1:
        return df.repartition(*parts)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per_partition)
    )
    # explicit numPartitions: AQE's partition coalescing respects a
    # user-specified count but would merge the small salted shuffle
    # back into one task (one file) without it. At least
    # files_per_partition buckets, or a session with fewer shuffle
    # partitions (one per task slot) would cap every directory there.
    n_shuffle = max(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        files_per_partition,
    )
    return (
        df.withColumn("__salt", salt)
        .repartition(n_shuffle, *parts, F.col("__salt"))
        .drop("__salt")
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    zorder_by: tuple[str, str] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Table maintenance in one pass — the ``OPTIMIZE [ZORDER BY]``
    equivalent for the plain-parquet warehouse: compact each partition
    to ``files_per_partition`` files and, when ``zorder_by`` is given,
    lay rows inside each partition along the Morton curve of the two
    columns (``functions.zorder``), so row-group min/max stats prune on
    both dimensions in addition to the partition key. Both columns'
    quantile boundaries come from ONE sketch scan; the rewrite is the
    same crash-safe stage-and-swap as ``compact_partitions``."""
    df = spark.read.parquet(path)
    if zorder_by is None:
        compact_partitions(spark, path, partition_cols, files_per_partition)
        return
    from .functions.zorder import z_column

    # Range-split on (partition_cols, __z) — NOT the content-hash salt
    # _repartition_for_layout uses for plain compaction: a hash salt
    # spreads each partition's rows uniformly across its output files,
    # so every file spans the full z-range and file-level min/max
    # skipping (the point of z-ordering) is defeated.  Range
    # partitioning keeps per-file z-ranges tight and disjoint, exactly
    # like write_zordered.  Target file count = partition-dir count ×
    # files_per_partition; the dir count comes from a pruned
    # partition-column-only scan (directory-listing cheap).
    if partition_cols:
        n_dirs = df.select(*partition_cols).distinct().count()
    else:
        n_dirs = 1
    n_files = max(1, n_dirs * files_per_partition)
    clustered = (
        df.withColumn("__z", z_column(df, *zorder_by))
        .repartitionByRange(
            n_files, *[F.col(c) for c in partition_cols], F.col("__z")
        )
        .sortWithinPartitions(*partition_cols, "__z")
        .drop("__z")
    )
    _stage_and_swap_rewrite(spark, clustered, path, partition_cols)


# ---------------------------------------------------------------------------
# versioned snapshots: time travel + rollback without a table format
# ---------------------------------------------------------------------------

_VERSION_PREFIX = "v"
_CURRENT_MARKER = "_CURRENT"


def _flip_marker(table_dir: str, version: int) -> None:
    """Atomically advance the _CURRENT pointer: write-temp → fsync the
    file → os.replace → fsync the directory. Without the fsyncs a power
    loss after the journaled rename could leave a 0-byte marker (rename
    metadata persisted, data block never flushed); the temp file is
    removed if the write fails."""
    import os
    import tempfile

    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix=".cur_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(table_dir, _CURRENT_MARKER))
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    dfd = os.open(table_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _list_versions(table_dir: str) -> list[int]:
    """Sorted snapshot numbers on disk ([] for an unborn table)."""
    import os
    import re

    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = re.fullmatch(rf"{_VERSION_PREFIX}(\d+)", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def write_versioned(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the table's next immutable snapshot version and
    atomically advance the current-version pointer. Returns the new
    version number.

    Layout: ``table_dir/v{N}/`` parquet snapshots (immutable once
    written) + a ``_CURRENT`` marker file whose content is the live
    version number. The marker flips via write-temp + ``os.replace``
    (atomic on POSIX), so readers NEVER observe a half-written
    snapshot: they resolve the marker first and read an already-
    complete immutable directory — the same commit discipline
    Delta/Iceberg implement with manifest files, reduced to its
    essence. Old versions stay readable (time travel) until
    :func:`vacuum_versions` reclaims them."""
    import os

    os.makedirs(table_dir, exist_ok=True)
    version = latest_version(table_dir) + 1
    snap = os.path.join(table_dir, f"{_VERSION_PREFIX}{version}")
    df.write.mode("errorifexists").parquet(snap)
    _flip_marker(table_dir, version)
    return version


def latest_version(table_dir: str) -> int:
    """Highest snapshot number present on disk (-1 when none) —
    independent of the pointer, so a crash between snapshot write and
    pointer flip never reuses (and thus corrupts) the orphan number."""
    versions = _list_versions(table_dir)
    return versions[-1] if versions else -1


def current_version(table_dir: str) -> int:
    """The committed (pointer-resolved) version; -1 when unborn.

    A 0-byte/garbage marker (possible only from a crash inside a
    pointer flip on a filesystem that persisted the rename before the
    data — closed going forward by _flip_marker's fsyncs, but legacy
    tables may carry one) degrades to the newest on-disk snapshot:
    snapshots are complete and immutable BEFORE any flip references
    them, so the latest is a valid commit — strictly better than
    bricking every read with ValueError."""
    import os

    marker = os.path.join(table_dir, _CURRENT_MARKER)
    if not os.path.isfile(marker):
        return -1
    with open(marker) as f:
        raw = f.read().strip()
    try:
        return int(raw)
    except ValueError:
        return latest_version(table_dir)


def read_versioned(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    import os

    v = current_version(table_dir) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    return spark.read.parquet(os.path.join(table_dir, f"{_VERSION_PREFIX}{v}"))


def rollback_version(table_dir: str, version: int) -> None:
    """Re-point the table at an older snapshot (the escape hatch after
    a bad load). Pure pointer flip — the bad snapshot remains on disk
    for forensics until vacuumed."""
    import os

    snap = os.path.join(table_dir, f"{_VERSION_PREFIX}{version}")
    if not os.path.isdir(snap):
        raise FileNotFoundError(f"version {version} not found in {table_dir}")
    _flip_marker(table_dir, version)


def vacuum_versions(table_dir: str, keep: int = 2) -> list[int]:
    """Delete snapshots older than the newest ``keep`` (never the
    current pointer target). Returns the vacuumed version numbers."""
    import os
    import shutil

    cur = current_version(table_dir)
    versions = _list_versions(table_dir)  # [] for an unborn table
    victims = [v for v in versions[:-keep] if v != cur] if keep else [
        v for v in versions if v != cur
    ]
    for v in victims:
        shutil.rmtree(os.path.join(table_dir, f"{_VERSION_PREFIX}{v}"))
    return victims
