"""Streaming delivery-lag audit — the observability layer every
watermarked pipeline needs and none of the serving streams expose:
how much data arrives LATE (event time older than the high-water
mark minus the allowed delay), per micro-batch. Watermarked
operators (`ingest.py`, `sessions.py`, the interval joins) DROP
such rows silently by design; this audit makes the drop rate a
number someone can alarm on, and says whether the configured delay
is actually generous enough for the source's delivery skew.

Mechanics: each micro-batch lands a 1-row summary — row count,
event-time min/max, the high-water mark BEFORE this batch (the max
event time across all previously landed batches — read back from
the audit store itself, which is batches-sized, not data-sized),
and the count of rows older than (prior high-water mark - delay).
Landed under `batch_id=<id>` by `drain.land_batches`, so replay is
exactly-once like every other serve in this package.

The lateness definition is DETERMINISTIC given the batch sequence
(maxFilesPerTrigger=1 makes file order the batch order), which is
what lets the parity test replay the same shards scalar-side and
demand equality. The first batch has no prior mark: nothing can be
late against an empty history.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import land_batches
from .joins import events_stream

#: allowed delivery delay (microseconds) before a row counts late —
#: mirrors the 30-minute watermark the stateful streams configure
LATE_DELAY_US = 30 * 60 * 1_000_000


def run_late_audit_to_parquet(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain landed event shards, landing one audit row per batch
    under batch_id=<id>, exactly-once."""

    def _audit(batch_df: DataFrame, batch_id: int) -> DataFrame:
        try:
            # 1-row aggregate over the batches-sized audit store —
            # the bpetrain/constraints .first() allowance, never a
            # data-sized materialization; a replayed batch skips its
            # own earlier row
            prior = (
                spark.read.parquet(out_path)
                .where(F.col("batch_id") < batch_id)
                .agg(F.max("max_us").alias("hwm"))
                .first()
                .hwm
            )
        except AnalysisException:
            # First batch only: the store path does not exist yet, so
            # nothing can be late against an empty history. Any OTHER
            # read failure (corrupt store, IO, permissions) must fail
            # the batch loudly — swallowing it would land an audit row
            # with prior_hwm_us=NULL / n_late=0 and silently
            # under-report lateness.
            prior = None
        return batch_df.select(
            F.expr("unix_micros(ts)").alias("us")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
            F.sum(
                F.expr(
                    f"CAST(us < {prior} - {LATE_DELAY_US} AS INT)"
                    if prior is not None
                    else "CAST(0 AS INT)"
                )
            ).alias("n_late"),
        ).withColumn(
            "prior_hwm_us",
            F.lit(prior).cast("long"),
        )

    land_batches(
        events_stream(spark, landing_dir), _audit, out_path, checkpoint
    )


def serve_late_audit(spark: SparkSession, out_path: str) -> DataFrame:
    """The audit trail: one row per batch plus the running late
    share — what the alarm reads."""
    rows = spark.read.parquet(out_path)
    return rows.select(
        "batch_id",
        "n_rows",
        "n_late",
        "min_us",
        "max_us",
        "prior_hwm_us",
    ).orderBy("batch_id")
