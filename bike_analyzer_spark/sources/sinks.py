"""Writers — the Spark-native replacements for the reference's SQLite
sinks (SURVEY.md §2.1 S4/S5/S8):

- merge_upsert: keep-latest-per-key merge, replacing per-row
  `INSERT ... ON CONFLICT DO UPDATE` (reference etl_gbfs.py:82-93 for
  stations, etl_weather.py:60-69 for weather_hourly). Implemented as
  union + row_number() dedup — set-oriented, idempotent: re-merging
  the same batch is a no-op by construction.
- append_partitioned: date-partitioned append for the status fact
  (reference etl_gbfs.py:116-154 appends one snapshot per poll).
  Partitioning by event date is what makes "latest hour" / time-range
  queries prune to a handful of files at 100 TB.

100 TB notes: the merge shuffles once on the key; with a Delta/Iceberg
table this becomes MERGE INTO, but plain parquet + overwrite keeps the
engine dependency-free. The deterministic tie-break (order_col DESC,
then all-columns hash) makes merges reproducible under re-runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def keep_latest(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: newest by order_col; md5-of-concat as the final
    deterministic tie-break so re-runs can't flip between equals."""
    # to_json handles nested columns (arrays/structs) that concat_ws can't
    tie = F.md5(F.encode(F.to_json(F.struct(*df.columns)), "UTF-8"))
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc(), tie)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str,
) -> int:
    """Upsert `new` into the parquet table at `path`, keeping the
    newest row per key. Returns the resulting row count. An empty
    `new` rewrites the same rows (a first call creates an empty table).

    The count rides the staging write as an observed metric (the
    `pipeline.run_corpus_build` pattern), so the merge costs the
    write's jobs only, not a re-read of the staged table.

    Crash safety: the two renames of the swap are NOT jointly atomic —
    a kill between them leaves the previous table stranded at
    `<path>.old` with nothing at `path`. `_recover` heals exactly that
    state on the next call (and is cheap to run every time), so no
    committed history is ever silently dropped.
    """
    _recover(path)
    staging = _staging_dir(path)
    if os.path.exists(path):
        old = spark.read.schema(new.schema).parquet(path)
        merged = keep_latest(new.unionByName(old), key_cols, order_col)
    else:
        merged = keep_latest(new, key_cols, order_col)
    # Stage first: overwriting the path we are reading would truncate
    # the table mid-scan.
    obs = Observation()
    merged.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(staging)
    _swap_staging(path)
    return obs.get["n"]


def _staging_dir(path: str) -> str:
    """Fresh `<path>.staging` (clearing debris from a crashed write)."""
    import shutil

    staging = path + ".staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    return staging


def _swap_staging(path: str) -> None:
    """Promote `<path>.staging` to `path` via the two-rename swap.
    The renames are NOT jointly atomic; `_recover` heals a kill
    between them. The crash-safety protocol lives ONLY here — every
    rewriting sink (merge_upsert, compact_parquet) must route through
    it."""
    import shutil

    staging, backup = path + ".staging", path + ".old"
    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)  # crash before this line -> _recover restores
    if os.path.exists(backup):
        shutil.rmtree(backup)


def _recover(path: str) -> None:
    """Restore `<path>.old` if a previous swap crashed between its two
    renames (table missing, backup present)."""
    backup = path + ".old"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)


def append_partitioned(
    df: DataFrame, path: str, ts_col: str, batch_ts=None
) -> None:
    """Date-partitioned append (S5): stamps the batch ingest time once
    per batch (reference etl_gbfs.py:119 stamps scraped_at once) and
    lands under <path>/event_date=YYYY-MM-DD/."""
    out = df.withColumn("event_date", F.to_date(F.col(ts_col)))
    if batch_ts is not None:
        out = out.withColumn("ingested_at", F.lit(batch_ts).cast("timestamp"))
    out.write.mode("append").partitionBy("event_date").parquet(path)


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> tuple[int, int]:
    """Small-files maintenance (the OPTIMIZE/compaction pass every
    long-lived table needs): rewrite the parquet table at `path` into
    ceil(total_bytes / target_bytes) files through the same crash-safe
    staged swap the merge sink uses. Streaming appends and incremental
    merges accrete shard-sized files; scans then pay per-file open and
    task-schedule overhead, and at 100 TB an uncompacted table can
    have millions of files. Returns (files_before, files_after).

    Content-preserving, order-rewriting: parquet tables carry no row
    order contract, and every reader in this engine is order-agnostic
    (the float-parity-sensitive fixtures are SOURCE files, never
    compaction targets — see catalog.SPREAD_TABLES).

    Hive-partitioned layouts are PRESERVED: partition keys are
    recovered from the directory names and the rewrite re-partitions
    by them (each partition compacts to its own file set), so
    PartitionFilters pruning survives compaction. Non-data sidecar
    files (e.g. a cache's _FINGERPRINT.json) are not carried over —
    for fingerprinted caches that simply forces a rebuild on next
    access, never a stale serve.
    """
    import math
    import re

    _recover(path)
    parts = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    n_before = len(parts)
    total = sum(os.path.getsize(p) for p in parts)
    n_out = max(1, math.ceil(total / target_bytes))
    if n_out >= n_before:
        return n_before, n_before
    # partition keys, in nesting order, from any leaf's relative path
    rel = os.path.relpath(os.path.dirname(parts[0]), path)
    part_cols = [
        seg.split("=", 1)[0]
        for seg in rel.split(os.sep)
        if re.match(r"^[^=]+=", seg)
    ]
    df = spark.read.parquet(path)
    staging = _staging_dir(path)
    if part_cols:
        (
            df.repartition(n_out, *part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(staging)
        )
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)
    _swap_staging(path)
    n_after = sum(
        1
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return n_before, n_after


def write_shuffled_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "doc_id",
    salt: str = "shuffle",
) -> None:
    """Deterministic global corpus shuffle into training shards — the
    one-time 'shuffle the corpus before training' job every LLM run
    starts with: rows are ordered by a portable md5 hash of their key
    (+ salt), range-partitioned into n_shards on that order, and each
    shard is written sorted. Properties a training pipeline needs:

    * deterministic — same (corpus, salt) always yields the same
      shard assignment AND the same within-shard order (resumable,
      reproducible runs; no RNG state to persist);
    * re-shuffleable — a new salt is a fresh independent permutation
      (epoch reshuffles without rewriting the reader);
    * balanced — the hash is uniform, so repartitionByRange's sampled
      range bounds split it evenly; no shard inherits upstream
      clustering (source/time locality in doc_id ranges).

    Scale shape: one hash-exchange on a uniform key + a per-shard
    sort — the cost of any global shuffle, and the ONLY place the
    pipeline pays it. Shard assignment is an EXPLICIT hash partition
    (`repartition(n, key)`) rather than `repartitionByRange`: range
    bounds come from a sampling pass whose seed varies per run, so a
    range layout is neither rerun-stable nor sampling-free; the hash
    layout is a pure function of the data. The sort key is dropped
    before the write so shard files carry the corpus schema
    unchanged.
    """
    from ..functions.textfns import hash64

    keyed = df.withColumn(
        "_shuffle_key", hash64(F.col(key).cast("string"), salt)
    )
    (
        keyed.repartition(n_shards, "_shuffle_key")
        .sortWithinPartitions("_shuffle_key", key)
        .drop("_shuffle_key")
        .write.mode("overwrite")
        .parquet(path)
    )
