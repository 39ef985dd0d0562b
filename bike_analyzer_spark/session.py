"""SparkSession factory tuned for the engine.

The reference has no execution engine of its own (it delegates to
SQLite + pandas, see /root/reference/src/bike_analyzer/db.py:10-13);
this module is its Spark-native replacement: one place that owns
session construction and the scale-relevant knobs.

Design notes for 100 TB scale (tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions replace any hand-tuned
  partition counts when the same plans run on a 1000-executor cluster.
- Arrow on: every pandas-UDF boundary (OD matcher, SimHash, multimodal
  decode) moves columnar batches, not pickled rows.
- shuffle.partitions is a *default*; large jobs rely on AQE to
  coalesce/expand, so the same code works at sf0.001 and at 100 TB.

Two builder constants cut the per-pass cost of short repeated
queries (a dashboard's ~18 queries generate ~270 classes per pass):
- `spark.sql.codegen.cache.maxEntries=2000`: Spark's cache of
  compiled generated classes defaults to 100 entries, so one pass
  evicts every class the previous pass compiled and each repeat pass
  recompiles all of them with Janino.
- `spark.python.sql.dataFrameDebugging.enabled=false`: with it on,
  every `pyspark.sql.functions` call makes extra py4j round trips to
  record its Python call site for error messages. Errors still raise
  with the same class and message; only that call-site line goes.
Both are read once per process (the first is a static SQL conf fixed
when the session starts, the second is cached by PySpark on first
use), so only this builder can set them; `configure()` cannot apply
them to a session the correctness driver hands in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bike-analyzer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    return configure(spark)


#: session-conf sentinel: `configure` runs once per session
_CONFIGURED_FLAG = "spark.bikeAnalyzer.configured"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session,
    once per session (guarded by a conf sentinel, so every table read
    may call it).

    The correctness driver hands us ITS session; timezone and Arrow
    settings are runtime-configurable, so we normalize them here to
    keep timestamp semantics identical to the DuckDB oracle (naive
    UTC wall-clock, matching how the testdata parquet was written).
    AQE and ANSI mode are left as the caller configured them.
    """
    if spark.conf.get(_CONFIGURED_FLAG, None) == "true":
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # testdata events.ts is parquet TIMESTAMP(NANOS): read as raw long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # write timestamps as INT64 micros, not the legacy INT96: INT96
    # columns carry NO parquet min/max statistics, which silently
    # disables row-group/file skipping on every timestamp — the exact
    # pruning the partitioned/z-ordered layouts exist for (caught by
    # tests/test_layout.py reading the written footers)
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    spark.conf.set(_CONFIGURED_FLAG, "true")
    return spark
