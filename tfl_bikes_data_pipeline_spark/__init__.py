"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference pipeline (jackgisby/tfl-bikes-data-pipeline).

Built Spark-first: DataFrame/SQL logical plans optimized by Catalyst,
partitioned-Parquet warehouse, Structured Streaming for the streaming
layer, Pandas UDFs only where built-ins can't express the semantics.

Layout
------
- ``session``    : SparkSession factory (AQE on, UTC, tuned shuffle).
- ``tables``     : loaders for the synthetic star-schema test tables.
- ``functions``  : scalar helpers (calendar columns, synthetic keys,
                   exact decimal-sum aggregation helpers).
- ``plans``      : the reference's pipeline builders re-expressed
                   idiomatically (dim_time generator, fact build,
                   weather alignment/enrichment, incremental append)
                   plus the analyst query surface.
- ``operators``  : joins/top-k/window library + large-scale extensions
                   (dedup, similarity search, text analysis, multimodal).
- ``sources``    : raw-format ingest parity (CSV-with-schema, XML,
                   XLSX, netCDF-shaped nearest-grid spatial join).
- ``streaming``  : Structured Streaming layer (tumbling/sliding/session
                   windows, watermarks, stream-stream joins, stateful
                   operators, foreachBatch warehouse sink).
- ``engine``     : pipeline façade (``run_stage``: setup / weather /
                   journeys — the reference's transform_load stages).
- ``warehouse``  : partitioned + bucketed parquet warehouse helpers.
- ``registry``   : every declared query and its DuckDB oracle.
- ``scope``      : the relations and broadcasts a query keeps past its
                   return, released before the next query builds.
"""

__version__ = "0.1.0"
