"""SparkSession factory.

Mirrors the reference's session setup (``spark/transform_load.py:512-525``:
yarn-vs-local master, partition-column type inference disabled) but tuned
for the Spark-first engine: AQE enabled for runtime re-planning and skew
handling, UTC session timezone (required for DuckDB-oracle comparison),
Arrow enabled for the Pandas-UDF extension operators. Two sizing confs,
set when the session is built, cut the fixed cost every query pays:

- ``spark.sql.shuffle.partitions`` is the task-slot count
  (:func:`task_slots`, the same number ``master`` gets), not the 200
  default: at ``local[1]`` a larger count only makes AQE coalesce the
  partitions back and each global ``orderBy`` run a range-sampling job.
- ``spark.sql.codegen.cache.maxEntries`` is 4096, not 100: the JVM-wide
  cache of generated classes must hold a whole query mix (one pass over
  the 210 registry queries at sf0.01 compiled about 2,700 classes), or it
  evicts them before reuse and every query pays a Janino compile again.

At cluster scale the same factory applies unchanged — only ``master`` and
the memory/shuffle sizing knobs move to spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Correctness-bearing SQL confs every entry point must hold, regardless of
#: how the session was built. The driver's harness constructs a *plain*
#: ``SparkSession`` (no builder confs) and calls registry queries directly,
#: so relying on :func:`get_spark` alone silently breaks there (round-1
#: lesson: 16 queries died on the nanos-parquet read). All of these are
#: runtime-settable SQL confs, so they can be applied to any live session.
#: The two sizing confs of :func:`get_spark` are not among them: the
#: codegen cache size is static, and the shuffle-partition count belongs
#: to whoever sized the session's task slots. A plain session built
#: without the factory keeps Spark's defaults for both: slower per
#: query, never wrong.
RUNTIME_SQL_CONFS: dict[str, str] = {
    # parquet TIMESTAMP(NANOS) (the events fixture) is otherwise unreadable;
    # read as long, convert in tables.load_table — stays distributed.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # hour()/date_format()/unix_timestamp()/window() are session-TZ
    # dependent while the DuckDB oracles are TZ-free; pin UTC so results
    # are host-independent.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for the Pandas-UDF extension operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # idempotent month re-runs overwrite only the months present in the
    # incoming frame (reference append/overwrite flip,
    # spark/transform_load.py:438,:496).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # reference disables partition-column type inference
    # (transform_load.py:525); keep partition values as strings.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # runtime re-planning: coalesce post-shuffle partitions, split skewed
    # join partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate turns explode(f(x)) into
    # Filter(size(f(x)) > 0 AND isnotnull(f(x))) + Generate and pushes
    # the filter toward the scan — for the engine's shingle/token plans
    # f(x) is the FULL tokenize→transform→array_distinct pipeline, so
    # the "optimization" re-evaluates it twice per row below the
    # parallelizing exchange (measured 4-5× slowdown on every
    # shingle-exploding query at sf0.1; the filter saves nothing here
    # because explode already skips empty/null arrays). Excluding the
    # rule is plan-shape only — results are identical.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_SQL_CONFS` to a live session.

    Safe to call repeatedly (conf sets are cheap no-ops when unchanged);
    tolerates confs that a particular build treats as static.
    """
    for key, value in RUNTIME_SQL_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on this build
            pass
    return spark


#: Entries in the JVM-wide cache of generated classes; holds the ~2,700
#: distinct classes of one sf0.01 pass over every registry query.
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles in this JVM so far: one per generated class the
    codegen cache missed."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def task_slots() -> int:
    """Task slots of the local session: ``$SPARK_GRAFT_CPUS`` when it is
    a positive number, otherwise every host CPU."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit() and int(cpus) > 0:
        return int(cpus)
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "tfl_bikes_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local default: ``local[task_slots()]``, with one shuffle partition
    per slot. On a real cluster, pass ``master`` and size
    ``shuffle_partitions`` to the data (ARCHITECTURE.md "Sizing").
    """
    slots = task_slots()
    if master is None:
        master = f"local[{slots}]"
    if shuffle_partitions is None:
        shuffle_partitions = slots

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # local mode executes in the driver JVM: size the heap to the work
        # (92-query bench sessions GC-thrash at 8g — measured ~10% tail
        # drag; 24g removes it. On a cluster this knob moves to
        # spark-submit and executors carry the heap instead.)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in {**RUNTIME_SQL_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
