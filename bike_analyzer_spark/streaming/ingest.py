"""Structured Streaming ingest + event-time analytics (SURVEY.md
§2.9).

Mapping from the reference's polling model:
- each `ingest-status` poll (reference etl_gbfs.py:116-154, cli.py:30)
  = one micro-batch; a file-source stream over the landed status
  parquet replays exactly those batches.
- event time = `scraped_at` (what every reference query filters on);
  `withWatermark` bounds state for late data — the reference has no
  notion of lateness (late rows silently join their bucket), so the
  watermark is the strict-superset behavior.
- tumbling `window()` = the `dt.floor(freq)` buckets of
  od_inference.py:50 / the hour buckets of sql/queries.sql:37,48.
- a per-batch merge_upsert = the per-poll ON CONFLICT upsert
  (etl_gbfs.py:82-93) applied streaming-side.

Batch/stream parity: `windowed_avg` works unchanged on a batch frame
(window() is the same function) — tested by running both paths over
identical data. Reading and draining go through `drain.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import STATION_STATUS
from ..sources import sinks
from .drain import drain, file_stream


def status_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream over landed status snapshots, poll by poll."""
    return file_stream(spark, STATION_STATUS, landing_dir)


def windowed_avg(
    status: DataFrame, minutes: int = 10, watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window mean availability per station: `sliding_avg`
    with the slide equal to the window."""
    return sliding_avg(status, minutes, minutes, watermark)


def sliding_avg(
    status: DataFrame,
    minutes: int = 10,
    slide_minutes: int = 5,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window mean availability per station (each event lands
    in minutes/slide_minutes windows; a dashboard's '10-minute
    average, refreshed every 5'). The watermark bounds state to one
    row per (station, open window); windows close watermark-late.
    Works identically on batch and streaming frames, so the batch twin
    of the streaming query is the parity test."""
    df = status
    if df.isStreaming:
        df = df.withWatermark("scraped_at", watermark)
    return (
        df.groupBy(
            F.window(
                "scraped_at", f"{minutes} minutes", f"{slide_minutes} minutes"
            ).alias("w"),
            "station_id",
        )
        .agg(F.avg("num_bikes_available").alias("avg_bikes"))
        .select(
            F.col("w.start").alias("bucket_start"), "station_id", "avg_bikes"
        )
    )


def run_to_memory(df: DataFrame, name: str) -> None:
    """Drain everything landed into the in-memory table `name`
    (complete mode), for inspection and tests."""
    drain(df, table=name, mode="complete")


def dedup_stream(
    status: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming dedup (SURVEY §2.9 last row): drop repeated
    (station_id, scraped_at) observations across micro-batches with
    `dropDuplicatesWithinWatermark` — the reference's PK-upsert
    idempotency, streaming-side. State holds only keys younger than
    the watermark, so it's bounded by arrival rate x watermark span,
    not by stream length."""
    return status.withWatermark(
        "scraped_at", watermark
    ).dropDuplicatesWithinWatermark(["station_id", "scraped_at"])


def foreach_batch_upsert(
    spark: SparkSession,
    status: DataFrame,
    path: str,
    checkpoint: str,
) -> None:
    """Streaming keep-latest upsert: every micro-batch merges into the
    target keyed on station_id, newest scraped_at wins — the streaming
    face of the reference's polling upsert. An empty micro-batch
    merges to the same rows."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sinks.merge_upsert(
            spark, batch_df, path, ["station_id"], "scraped_at"
        )

    drain(status, each_batch=merge, checkpoint=checkpoint)
