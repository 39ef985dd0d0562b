"""Streaming ANN serving: batch/stream parity (same code path, same
results), exactly-once shard replay, and the partition-pruned probe
plan the persisted inverted lists exist for."""

import os

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.operators import ivf
from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import annserve
from tests.conftest import SF_DIR_SMOKE


def _query_shards(spark, tmp_path, n_shards=2, per_shard=3):
    """Synthetic request shards: scaled copies of corpus vectors with
    fresh ids (so nothing collides with corpus vec_ids)."""
    base = (
        load(spark, SF_DIR_SMOKE, "embeddings")
        .orderBy("vec_id")
        .limit(n_shards * per_shard)
        .collect()
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    all_rows = []
    for s in range(n_shards):
        rows = [
            (
                10_000 + s * per_shard + i,
                [x * 1.001 for x in base[s * per_shard + i].embedding],
            )
            for i in range(per_shard)
        ]
        all_rows.extend(rows)
        spark.createDataFrame(rows, annserve.QUERY_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(str(landing / f"shard_{s}"))
    # flatten shard dirs into one landing dir of part files
    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for s in range(n_shards):
        for f in os.listdir(landing / f"shard_{s}"):
            if f.endswith(".parquet"):
                os.rename(
                    landing / f"shard_{s}" / f, flat / f"shard{s}_{n}.parquet"
                )
                n += 1
    return str(flat), all_rows


def test_streaming_matches_batch_topk(spark, tmp_path):
    flat, all_rows = _query_shards(spark, tmp_path)
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    annserve.run_topk_to_parquet(spark, SF_DIR_SMOKE, flat, out, ckpt)
    served = sorted(
        map(tuple, spark.read.parquet(out).drop("batch_id").collect())
    )
    batch = sorted(
        map(
            tuple,
            ivf.topk_for(
                spark,
                SF_DIR_SMOKE,
                spark.createDataFrame(all_rows, annserve.QUERY_SCHEMA),
            ).collect(),
        )
    )
    assert served == batch
    assert len(served) > 0
    # every query got exactly TOP_K results
    per_q = {}
    for row in served:
        per_q[row[0]] = per_q.get(row[0], 0) + 1
    assert set(per_q.values()) == {ivf.TOP_K}
    assert len(per_q) == len(all_rows)


def test_replay_is_exactly_once(spark, tmp_path):
    flat, _ = _query_shards(spark, tmp_path, n_shards=1)
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    annserve.run_topk_to_parquet(spark, SF_DIR_SMOKE, flat, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # restart over the same landing dir: checkpoint must skip it all
    annserve.run_topk_to_parquet(spark, SF_DIR_SMOKE, flat, out, ckpt)
    assert spark.read.parquet(out).count() == n1


def test_probe_scan_is_partition_pruned(spark):
    """The reason the lists persist partitioned: the serving plan must
    carry a runtime pruning predicate on centroid_id (DPP), so a probe
    reads the probed centroid directories, not the corpus."""
    queries = (
        load(spark, SF_DIR_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    df = ivf.topk_for(spark, SF_DIR_SMOKE, queries)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_index_ingest_and_serve(spark, tmp_path):
    """The maintenance path: landed vector shards append to a
    caller-owned lists store under the frozen centroids, the store
    serves identically to a batch-built lists frame over the same
    vectors, and shard replay is exactly-once."""
    from bike_analyzer_spark.operators.similarity import _with_norm
    from bike_analyzer_spark.sources.catalog import load as cat_load

    flat, all_rows = _query_shards(spark, tmp_path)
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ingest_ckpt")
    annserve.run_index_ingest(spark, SF_DIR_SMOKE, flat, index, ckpt)

    lists = spark.read.schema(ivf._lists_schema()).parquet(index)
    n1 = lists.count()
    assert n1 == len(all_rows)  # every landed vector filed into a list

    # serving parity vs a batch-built lists frame over the same vectors
    emb_n = _with_norm(cat_load(spark, SF_DIR_SMOKE, "embeddings"))
    cents_row = ivf._centroid_row(
        ivf._index_centroids(spark, SF_DIR_SMOKE, emb_n)
    )
    landed = spark.createDataFrame(all_rows, annserve.QUERY_SCHEMA)
    batch_lists = ivf._assigned(
        _with_norm(landed.withColumnRenamed("query_id", "vec_id")),
        cents_row,
    ).select("vec_id", "embedding", "norm", "centroid_id")
    queries = landed.filter(F.col("query_id") < 10_003)
    served = sorted(
        map(
            tuple,
            annserve.serve_index(spark, SF_DIR_SMOKE, queries, index).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            ivf.topk_for(
                spark, SF_DIR_SMOKE, queries, lists=batch_lists
            ).collect(),
        )
    )
    assert served == direct
    assert len(served) > 0

    # replay: same landing dir + checkpoint appends nothing
    annserve.run_index_ingest(spark, SF_DIR_SMOKE, flat, index, ckpt)
    assert (
        spark.read.schema(ivf._lists_schema()).parquet(index).count() == n1
    )
