"""Streaming drift monitoring — the serving face of the PSI
instrument (`operators/drift.py`): event shards land continuously,
and every micro-batch's event-type mix is scored against a FROZEN
baseline distribution (the ML-monitoring deployment contract: the
baseline is the training-time distribution, recomputed offline on a
retrain schedule; live traffic between retrains is judged against
the current baseline).

The PSI arithmetic is `drift.psi_table` — the SAME code path the
batch `psi_drift` corpus query uses, so the monitor cannot disagree
with the offline report (parity-tested in tests/test_driftserve.py).
State: ZERO — the baseline is a static |types|-row frame broadcast
into each batch; scoring is one aggregate per micro-batch.

Exactly-once: each batch's report lands under `batch_id=<id>`
through `drain.land_batches`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import psi_table
from ..sources.catalog import load
from .drain import land_batches
from .joins import events_stream


def baseline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen per-type baseline: (event_type, f1) from the
    static events table."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("f1"))
    )


def batch_psi(batch_df: DataFrame, baseline: DataFrame) -> DataFrame:
    """PSI report of one batch of events against the baseline —
    shared by the stream sink and the batch-parity test. Buckets
    absent from the batch are excluded (the co-occurring-bucket
    form `psi_table` documents)."""
    counts = batch_df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("f2")
    )
    return psi_table(counts.join(F.broadcast(baseline), "event_type"))


def run_drift_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain every landed event shard, scoring each
    micro-batch's type mix against the frozen baseline and landing
    the per-type + '(all)' PSI report under batch_id=<id>,
    exactly-once per shard."""
    baseline = baseline_counts(spark, sf_dir).localCheckpoint()
    land_batches(
        events_stream(spark, landing_dir),
        lambda batch_df, _: batch_psi(batch_df, baseline),
        out_path,
        checkpoint,
    )
