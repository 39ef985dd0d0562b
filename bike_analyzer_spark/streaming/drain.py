"""How every streaming surface in this package reads, drains and lands.

- `file_stream`: a file source over a landing directory, schema
  pinned (streaming sources never infer), one landed file per
  micro-batch. The stateful surfaces (lag delta, EWMA, gap-fill,
  dedup) advance their watermarks one file at a time, and replay
  tests rely on file order being batch order.
- `drain`: one availableNow run — process everything landed so far,
  then stop — into a memory table, a parquet directory or a
  per-batch function. It returns the finished query handle, whose
  progress carries the final watermark and state metrics.
- `land_batches`: the exactly-once rule for per-batch writers.
  foreachBatch is at-least-once: a crash after the sink wrote a batch
  but before the checkpoint committed it re-runs that batch on
  restart. So each batch OVERWRITES its own `batch_id=<id>` directory
  of the store; a replayed batch replaces its own output instead of
  appending a second copy, and readers see `batch_id` as a partition
  column (shard lineage).

An availableNow file stream runs no micro-batch when no new file has
landed, so per-batch functions never probe for an empty batch.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession, schema: StructType, landing_dir: str
) -> DataFrame:
    """File-source stream over the parquet files landed in
    `landing_dir`, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )


def drain(
    stream: DataFrame,
    *,
    table: str | None = None,
    path: str | None = None,
    each_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    mode: str = "append",
) -> StreamingQuery:
    """Run `stream` with availableNow into exactly one sink: the
    memory table `table`, the parquet directory `path`, or
    `each_batch(batch_df, batch_id)`. Durable sinks take a
    `checkpoint`; restarting with the same one resumes after the last
    committed batch."""
    w = stream.writeStream.outputMode(mode)
    if table is not None:
        w = w.format("memory").queryName(table)
    elif path is not None:
        w = w.format("parquet").option("path", path)
    else:
        w = w.foreachBatch(each_batch)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def land_batches(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], DataFrame],
    out_path: str,
    checkpoint: str,
    partition_by: Sequence[str] = (),
) -> StreamingQuery:
    """Drain `stream`, overwriting `out_path/batch_id=<id>` with
    `fn(batch_df, batch_id)` for every micro-batch (partitioned
    inside that directory by `partition_by`)."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        fn(batch_df, batch_id).write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(f"{out_path}/batch_id={batch_id}")

    return drain(stream, each_batch=land, checkpoint=checkpoint)
