"""Streaming ANN serving — the online face of the IVF index: query
vectors land continuously (an inference service's lookup requests, a
nightly batch of new documents to link against the corpus), each
micro-batch probes the PERSISTED inverted lists, and top-k results
land exactly-once in the results store under `batch_id=<id>`
(`drain.land_batches`).

This is why `ivf.inverted_lists` persists the index partitioned by
centroid_id: the serving join prunes the corpus scan to the probed
centroid directories at runtime (dynamic partition pruning —
plan-verified), so a micro-batch of Q queries touches ~Q * N_PROBE
lists, never the corpus. The probe logic is `ivf.topk_for` — the
SAME code path the batch `sim_ivf_topk` query uses, so batch and
streaming cannot drift (parity-tested).

State: ZERO. The index is the store; queries are stateless lookups.
The checkpoint skips committed shards, and the per-batch overwrite
makes a replayed, uncommitted batch replace its own results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.ivf import (
    _assigned,
    _centroid_row,
    _index_centroids,
    _lists_schema,
    topk_for,
)
from ..operators.similarity import _with_norm
from ..sources.catalog import load
from .drain import file_stream, land_batches

#: pinned request schema: streaming sources never infer
QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def vector_query_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream over landed query-vector shards (a request batch = a
    micro-batch)."""
    return file_stream(spark, QUERY_SCHEMA, landing_dir)


def run_topk_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain every landed query shard through the persisted IVF index
    and land (query_id, neighbor_id, cos, rank) in the results store,
    exactly-once per shard."""
    land_batches(
        vector_query_stream(spark, landing_dir),
        lambda batch_df, _: topk_for(spark, sf_dir, batch_df),
        out_path,
        checkpoint,
    )


def run_index_ingest(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    index_path: str,
    checkpoint: str,
) -> None:
    """Index MAINTENANCE — the write path next to `run_topk_to_parquet`'s
    read path: newly embedded vectors land continuously, each
    micro-batch is assigned under the FROZEN trained centroids (the
    standard IVF maintenance contract: the coarse quantizer retrains
    offline on a schedule, arrivals between retrains file into the
    existing lists), and lands in a caller-owned lists store under
    `batch_id=<id>/centroid_id=<c>`, exactly-once per shard. The store
    is immediately servable with `serve_index` / `ivf.topk_for`, whose
    probe prunes on the nested centroid_id partitions."""
    cents_row = _centroid_row(
        _index_centroids(
            spark, sf_dir, _with_norm(load(spark, sf_dir, "embeddings"))
        )
    )

    def _assign(batch_df: DataFrame, _: int) -> DataFrame:
        return _assigned(
            _with_norm(batch_df.withColumnRenamed("query_id", "vec_id")),
            cents_row,
        ).select("vec_id", "embedding", "norm", "centroid_id")

    land_batches(
        vector_query_stream(spark, landing_dir),
        _assign,
        index_path,
        checkpoint,
        partition_by=["centroid_id"],
    )


def serve_index(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    index_path: str,
) -> DataFrame:
    """Top-k against a streaming-maintained lists store (same probe
    path as the corpus queries; same partition-pruned scan shape)."""
    lists = spark.read.schema(_lists_schema()).parquet(index_path)
    return topk_for(spark, sf_dir, queries, lists=lists)
