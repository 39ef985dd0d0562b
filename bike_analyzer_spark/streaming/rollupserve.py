"""Streaming continuous-aggregate maintenance — the serving face of
the hypertable rollup (`operators/hypertable.py`): event shards land
continuously and the hour-grain partial aggregates stay current
without ever rescanning history.

Design: the classic delta + read-merge split that keeps streaming
upkeep EXACTLY-ONCE without a transactional store.

* Write side: each micro-batch reduces to its own hour-grain
  ALGEBRAIC partials — (n, sum_cents, min, max) per (bucket, type)
  — landed under `batch_id=<id>` by `drain.land_batches`. A
  replayed batch replaces its own partition; nothing is ever merged
  in place, so there is no read-modify-write window to double-count
  through.
* Read side (`serve_rollup`): re-aggregating partials is lossless
  for algebraic functions (sum of sums, sum of counts, min of mins,
  max of maxes — the hypertable cascade's own invariant), so the
  served rollup is one aggregate over the partials store, whose
  size tracks (hours x types x batches), not events. A periodic
  compaction (sinks.compact_parquet, or simply re-landing the
  merged store) bounds the batch factor; correctness never depends
  on it.

Displayed sum/avg ride the SAME exact-cents + half-up expressions
as the batch query, so the monitor cannot drift from
`hypertable_rollup`'s hour grain (parity-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents, halfup_avg_sql
from .drain import land_batches
from .joins import events_stream


def batch_hour_partials(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to hour-grain algebraic partials —
    the same expressions hypertable_rollup's minute->hour cascade
    carries."""
    return batch_df.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("sum_c"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def run_rollup_to_parquet(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain landed event shards, landing each batch's hour partials
    under batch_id=<id>, exactly-once."""
    land_batches(
        events_stream(spark, landing_dir),
        lambda batch_df, _: batch_hour_partials(batch_df),
        out_path,
        checkpoint,
    )


def merge_partials(partials: DataFrame) -> DataFrame:
    """Re-aggregate a frame of hour-grain algebraic partials (from
    any number of micro-batch shards) and derive the display columns
    exactly as the batch query does — the serve path's read-side
    merge, shared verbatim by `serve_rollup` and its driver-gated
    batch twin (`operators.streamserve.rollup_partials_merge`)."""
    return (
        partials.groupBy("bucket", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_c").alias("sum_c"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .selectExpr(
            "unix_micros(bucket) AS bucket_us",
            "event_type",
            "n",
            "round(sum_c / CAST(100 AS DOUBLE), 4) AS sum_v",
            halfup_avg_sql("sum_c", "n") + " AS avg_v",
            "round(min_v, 4) AS min_v",
            "round(max_v, 4) AS max_v",
        )
        .orderBy("bucket_us", "event_type")
    )


def serve_rollup(spark: SparkSession, out_path: str) -> DataFrame:
    """The current hour-grain rollup: re-aggregate the partials
    store (lossless for algebraic partials) and derive the display
    columns exactly as the batch query does."""
    return merge_partials(spark.read.parquet(out_path))
