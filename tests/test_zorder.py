"""Z-order clustering effectiveness, measured on real parquet footers:
the fraction of files a selective predicate can skip via min/max
stats must improve materially over a single-column sort layout on the
*other* dimension — the property that makes the layout worth a write
at 100 TB."""

import glob

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from tfl_bikes_data_pipeline_spark.functions.zorder import write_zordered, zvalue
from tfl_bikes_data_pipeline_spark.tables import load_table

N_FILES = 8


def _skip_fraction(files: list[str], col: str, probe) -> float:
    """Fraction of files whose [min, max] for col excludes probe."""
    skipped = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None and not (lo <= probe <= hi):
            skipped += 1
    return skipped / len(files)


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], "a LONG, b LONG")
    got = df.select(zvalue(F.col("a"), F.col("b"), 3).alias("z")).first()["z"]
    # a bits → even positions (1,0,1 → 0b010001), b → odd (0,1,1 → 0b101010 >> shifted)
    want = (1 << 0) | (0 << 2) | (1 << 4) | (1 << 1) | (1 << 3) | (0 << 5)
    assert got == want


def test_zorder_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    ).withColumn("vint", F.col("value").cast("long"))

    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "single")
    write_zordered(events, z_path, "user_id", "vint", n_files=N_FILES)
    # baseline: clustered on user_id only (the usual single-key sort)
    (
        events.repartitionByRange(N_FILES, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(s_path)
    )

    z_files = sorted(glob.glob(f"{z_path}/*.parquet"))
    s_files = sorted(glob.glob(f"{s_path}/*.parquet"))
    assert len(z_files) == len(s_files) == N_FILES

    mid_user = events.agg(F.expr("percentile(user_id, 0.5)")).first()[0]
    mid_val = events.agg(F.expr("percentile(vint, 0.5)")).first()[0]

    # single-key layout: perfect on its key, useless on the other
    assert _skip_fraction(s_files, "user_id", int(mid_user)) >= 0.5
    s_val = _skip_fraction(s_files, "vint", int(mid_val))
    assert s_val == 0.0
    # z-order: skipping on BOTH dimensions (the single-key layout skips
    # NOTHING on the off dimension — that contrast is the property;
    # absolute fractions wobble with range-partition boundary sampling,
    # so the floor is one file per dimension, 1/8 of the layout)
    z_user = _skip_fraction(z_files, "user_id", int(mid_user))
    z_val = _skip_fraction(z_files, "vint", int(mid_val))
    assert z_user >= 1 / N_FILES, f"z-order skips too little on user_id: {z_user}"
    assert z_val >= 1 / N_FILES, f"z-order skips too little on value: {z_val}"

    # content preserved
    assert (
        spark.read.parquet(z_path).count() == events.count()
    )


def test_optimize_table_all_null_zorder_column(spark, tmp_path):
    """An entirely-NULL z-order column must not crash the maintenance
    job: its rank degenerates to 0 and the curve falls back to the
    other dimension (round-1 advice: the rank bounds raised TypeError)."""
    from tfl_bikes_data_pipeline_spark.warehouse import (
        optimize_table,
        write_partitioned,
    )

    df = spark.range(100).select(
        F.col("id"),
        F.lit(None).cast("long").alias("all_null"),
        (F.col("id") % 2).cast("string").alias("ym"),
    )
    out = str(tmp_path / "wh_null")
    write_partitioned(df, out, ["ym"], mode="overwrite")

    optimize_table(spark, out, ["ym"], zorder_by=("all_null", "id"))

    after = spark.read.parquet(out)
    assert after.count() == 100
    assert after.where(F.col("all_null").isNull()).count() == 100


def test_failed_rewrite_leaves_table_intact(spark, sf_dir, tmp_path):
    """Crash-mid-maintenance safety: a rewrite that fails while STAGING
    must leave the live table byte-identical and fully readable (the
    old in-place dynamic overwrite could delete partitions it had not
    yet rewritten). Leftover dot-prefixed trash/staging dirs must be
    invisible to readers."""
    import pytest

    from tfl_bikes_data_pipeline_spark.tables import load_table
    from tfl_bikes_data_pipeline_spark.warehouse import (
        _stage_and_swap_rewrite,
        month_partition,
        write_partitioned,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "ts"
    ).withColumn("ym", month_partition("ts"))
    out = str(tmp_path / "wh_crash")
    write_partitioned(events, out, ["ym"], mode="overwrite")
    n0 = spark.read.parquet(out).count()

    # a rewrite whose job fails mid-write (assert_true raises per-row)
    bad = spark.read.parquet(out).withColumn(
        "boom", F.expr("assert_true(event_id < 0)")
    )
    with pytest.raises(Exception):
        _stage_and_swap_rewrite(spark, bad, out, ["ym"])

    assert spark.read.parquet(out).count() == n0, "live table lost rows"

    # leftover dot-trash dirs (the mid-swap window) are reader-invisible
    import os

    ym_dirs = [d for d in os.listdir(out) if d.startswith("ym=")]
    os.makedirs(os.path.join(out, f".{ym_dirs[0]}.old-deadbeef"), exist_ok=True)
    assert spark.read.parquet(out).count() == n0


def test_optimize_table_compacts_and_clusters(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER façade: fragmented months → 1 z-clustered file
    per month, identical content, tighter per-row-group user_id spans
    than the unclustered layout."""
    from tfl_bikes_data_pipeline_spark.tables import load_table
    from tfl_bikes_data_pipeline_spark.warehouse import (
        month_partition,
        optimize_table,
        write_partitioned,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    ).withColumn("ym", month_partition("ts")).withColumn(
        "vint", F.col("value").cast("long")
    )
    out = str(tmp_path / "wh")
    for i in range(3):
        write_partitioned(
            events.where(F.col("event_id") % 3 == i), out, ["ym"]
        )
    n_before = spark.read.parquet(out).count()

    optimize_table(spark, out, ["ym"], zorder_by=("user_id", "vint"))

    for m in glob.glob(f"{out}/ym=*"):
        assert len(glob.glob(f"{m}/*.parquet")) == 1, f"{m} not compacted"
    after = spark.read.parquet(out)
    assert after.count() == n_before
    # z-layout: within a file, user_id min/max per row group must not
    # all span the full domain (clustering leaves a footprint)
    f = glob.glob(f"{out}/ym=*/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    spans = []
    lo_all, hi_all = None, None
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            c = md.row_group(rg).column(ci)
            if c.path_in_schema == "user_id" and c.statistics:
                s = c.statistics
                spans.append(s.max - s.min)
                lo_all = s.min if lo_all is None else min(lo_all, s.min)
                hi_all = s.max if hi_all is None else max(hi_all, s.max)
    if md.num_row_groups > 1:
        assert min(spans) < (hi_all - lo_all), "no clustering footprint"


def test_optimize_table_multifile_zorder_files_skip(spark, sf_dir, tmp_path):
    """files_per_partition>1 z-order layout: per-FILE z-ranges must be
    tight and disjoint so a selective point probe can skip whole files
    via footer min/max. The former content-hash salt spread every
    partition's rows uniformly across its files — every file spanned
    the full domain and file-level skipping was impossible; range
    splitting on (partition_cols, __z) restores it."""
    from tfl_bikes_data_pipeline_spark.tables import load_table
    from tfl_bikes_data_pipeline_spark.warehouse import (
        month_partition,
        optimize_table,
        write_partitioned,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "ts")
        .withColumn("ym", month_partition("ts"))
        .withColumn("vint", F.col("value").cast("long"))
    )
    out = str(tmp_path / "wh")
    write_partitioned(events, out, ["ym"])

    optimize_table(
        spark, out, ["ym"], zorder_by=("user_id", "vint"), files_per_partition=4
    )

    after = spark.read.parquet(out)
    assert after.count() == events.count()
    # pick one partition dir that actually got >1 file and probe it
    multi = [
        m
        for m in glob.glob(f"{out}/ym=*")
        if len(glob.glob(f"{m}/*.parquet")) > 1
    ]
    assert multi, "no partition received multiple files"
    files = glob.glob(f"{multi[0]}/*.parquet")
    probe = after.agg(F.min("user_id")).first()[0]
    assert _skip_fraction(files, "user_id", probe) > 0, (
        "every file spans the full user_id domain — z-order layout "
        "gives no file-level skipping"
    )


# ---------------------------------------------------------------------------
# versioned snapshots
# ---------------------------------------------------------------------------

def test_versioned_snapshots_time_travel_and_rollback(spark, tmp_path):
    from tfl_bikes_data_pipeline_spark.warehouse import (
        current_version,
        read_versioned,
        rollback_version,
        vacuum_versions,
        write_versioned,
    )

    t = str(tmp_path / "tbl")
    v0 = write_versioned(spark.range(5), t)
    v1 = write_versioned(spark.range(9), t)
    assert (v0, v1) == (0, 1)
    assert current_version(t) == 1
    assert read_versioned(spark, t).count() == 9
    assert read_versioned(spark, t, version=0).count() == 5  # time travel
    rollback_version(t, 0)
    assert read_versioned(spark, t).count() == 5
    v2 = write_versioned(spark.range(2), t)
    assert v2 == 2 and read_versioned(spark, t).count() == 2
    # vacuum keeps the newest two and never the current target
    vacuumed = vacuum_versions(t, keep=2)
    assert vacuumed == [0]
    assert read_versioned(spark, t, version=1).count() == 9


def test_versioned_crash_between_snapshot_and_pointer(spark, tmp_path):
    """A snapshot directory without a pointer flip (crash window) must
    not be visible to readers, and the next writer must not reuse its
    number."""
    import os

    from tfl_bikes_data_pipeline_spark.warehouse import (
        current_version,
        read_versioned,
        write_versioned,
    )

    t = str(tmp_path / "tbl")
    write_versioned(spark.range(4), t)
    # simulate the crash: orphan v1 exists, pointer still at 0
    spark.range(99).write.parquet(os.path.join(t, "v1"))
    assert current_version(t) == 0
    assert read_versioned(spark, t).count() == 4
    v = write_versioned(spark.range(7), t)
    assert v == 2, "writer must skip the orphan snapshot number"
    assert read_versioned(spark, t).count() == 7


def test_compact_files_per_partition_splits_files(spark, sf_dir):
    """files_per_partition > 1 must actually yield multiple files per
    partition dir — repartition(n, cols) alone hashes each partition
    value into ONE task (the review-r5 silent bug)."""
    import glob
    import os
    import tempfile

    from tfl_bikes_data_pipeline_spark.tables import load_table
    from tfl_bikes_data_pipeline_spark.warehouse import (
        compact_partitions,
        month_partition,
        write_partitioned,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="compact_multi_"), "events")
    events = load_table(spark, sf_dir, "events").withColumn("ym", month_partition())
    write_partitioned(events, path, ["ym"], mode="overwrite")
    compact_partitions(spark, path, ["ym"], files_per_partition=4)

    part_dirs = [d for d in glob.glob(f"{path}/ym=*") if os.path.isdir(d)]
    assert part_dirs
    counts = {d: len(glob.glob(f"{d}/*.parquet")) for d in part_dirs}
    assert all(1 <= c <= 4 for c in counts.values()), counts
    assert any(c > 1 for c in counts.values()), f"no partition split: {counts}"
    # content unchanged
    back = spark.read.parquet(path)
    assert back.count() == events.count()


def test_compact_files_per_partition_at_one_shuffle_partition(spark, sf_dir, tmp_path):
    """A session with one shuffle partition (one task slot) still splits
    each partition dir into files_per_partition files: the salted
    repartition needs at least that many buckets."""
    from tfl_bikes_data_pipeline_spark.warehouse import (
        compact_partitions,
        month_partition,
        write_partitioned,
    )

    path = str(tmp_path / "events")
    events = load_table(spark, sf_dir, "events").withColumn("ym", month_partition())
    write_partitioned(events, path, ["ym"], mode="overwrite")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        compact_partitions(spark, path, ["ym"], files_per_partition=4)
    finally:
        spark.conf.set(key, prev)

    counts = {
        d: len(glob.glob(f"{d}/*.parquet")) for d in glob.glob(f"{path}/ym=*")
    }
    assert counts
    assert all(1 < c <= 4 for c in counts.values()), counts
    assert spark.read.parquet(path).count() == events.count()


def test_current_version_degrades_on_corrupt_marker(spark, tmp_path):
    """A 0-byte _CURRENT (legacy crash inside a pointer flip) must
    degrade to the newest complete snapshot, not ValueError-brick the
    table; vacuum on an unborn table returns [] instead of raising."""
    import os

    from tfl_bikes_data_pipeline_spark.warehouse import (
        current_version,
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    table = str(tmp_path / "versioned")
    df = spark.range(10).withColumnRenamed("id", "k")
    write_versioned(df, table)
    write_versioned(df.where("k < 5"), table)
    # simulate the legacy crash artifact
    open(os.path.join(table, "_CURRENT"), "w").close()
    assert current_version(table) == 1
    assert read_versioned(spark, table).count() == 5

    assert vacuum_versions(str(tmp_path / "never_written")) == []


def test_quantile_rank_beats_raw_interleave_on_skew(spark, tmp_path):
    """Skewed-domain A/B (r9 verdict task 8): x heavy-tailed (u^8 maps
    half the mass into ~0.4% of a 2^20 domain), y uniform. Raw-domain
    interleave spends almost all of its x-resolution on the empty tail,
    so the curve degenerates toward an x-only sort — most files span
    the ENTIRE y domain and y-skipping dies (measured: 5/8 files at
    100% y-mass). Equal-mass quantile ranks give every bucket ~equal
    rows regardless of the data's shape, keeping per-file mass boxes
    tight on BOTH dimensions. Footer min/max stats are the judge."""
    import bisect

    N = 40_000
    df = spark.range(N).select(
        F.col("id"),
        F.floor(
            F.pow((F.col("id") % 9973) / 9973.0, 8) * ((1 << 20) - 1)
        ).cast("long").alias("x"),
        ((F.col("id") * 2654435761) % 1024).cast("long").alias("y"),
    )
    raw_path, qt_path = str(tmp_path / "raw"), str(tmp_path / "qt")
    write_zordered(df, raw_path, "x", "y", n_files=N_FILES, rank="raw")
    write_zordered(df, qt_path, "x", "y", n_files=N_FILES, rank="quantile")

    xs = sorted(r.x for r in df.select("x").collect())
    ys = sorted(r.y for r in df.select("y").collect())

    def mass_spans(path, col, vals):
        """Per-file fraction of the TOTAL row mass inside the file's
        footer [min, max] for col — the probability a point probe on
        col cannot skip the file."""
        spans = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            spans.append(
                (bisect.bisect_right(vals, hi) - bisect.bisect_left(vals, lo))
                / len(vals)
            )
        return spans

    raw_y = mass_spans(raw_path, "y", ys)
    qt_y = mass_spans(qt_path, "y", ys)
    # raw: the curve degenerated — at least half the files span (nearly)
    # all of y, so a y-probe reads them regardless of its value
    assert sum(1 for m in raw_y if m >= 0.99) >= N_FILES // 2, raw_y
    # quantile: at most one boundary file may span y broadly
    assert sum(1 for m in qt_y if m >= 0.99) <= 1, qt_y

    # balance across BOTH dims: the quantile layout's worst-dimension
    # average mass-span must beat raw's by a clear margin
    raw_x = mass_spans(raw_path, "x", xs)
    qt_x = mass_spans(qt_path, "x", xs)
    raw_worst = max(sum(raw_x) / len(raw_x), sum(raw_y) / len(raw_y))
    qt_worst = max(sum(qt_x) / len(qt_x), sum(qt_y) / len(qt_y))
    assert qt_worst <= raw_worst - 0.1, (raw_worst, qt_worst)
