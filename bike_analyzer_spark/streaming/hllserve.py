"""Streaming HyperLogLog maintenance — the serving face of
`operators/scale.hll_user_estimate`: event shards land continuously
and the 256-register distinct-user sketch stays current without
ever rescanning history, which is the entire reason HLL exists at
100 TB (the exact distinct set cannot be carried; the registers
can — and max() of register maxima is ALGEBRAIC, so per-batch
partials re-merge losslessly, the rollupserve invariant).

Write side: each micro-batch reduces to its own (register, max
rank) partials, landed under `batch_id=<id>` by `drain.land_batches`
— a replayed batch replaces its own partition, so replay is
exactly-once with no read-modify-write window.

Read side (`serve_hll`): one max-merge over the partials store
(size tracks registers x batches, never events), then the SAME
shared-text estimate expression as the batch query — the served
estimate is bit-equal to running the batch sketch over the union of
all landed shards (parity-tested), because max() is order- and
partition-free and the register -> integer-summand mapping is
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import hash64
from ..operators.scale import _EST, _RHO, HLL_LOW_BITS, HLL_M, HLL_SALT
from .drain import land_batches
from .joins import events_stream


def batch_registers(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to (reg, mr) register partials —
    the same hash/rank expressions the batch sketch uses."""
    return (
        batch_df.select(
            hash64(F.col("user_id").cast("string"), HLL_SALT).alias("h")
        )
        .select(
            F.expr(f"h div {1 << HLL_LOW_BITS}").alias("reg"),
            F.expr(f"h % {1 << HLL_LOW_BITS}").alias("lo"),
        )
        .selectExpr("reg", f"{_RHO} AS rho")
        .groupBy("reg")
        .agg(F.max("rho").alias("mr"))
    )


def run_hll_to_parquet(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain landed event shards, landing each batch's register
    partials under batch_id=<id>, exactly-once."""
    land_batches(
        events_stream(spark, landing_dir),
        lambda batch_df, _: batch_registers(batch_df),
        out_path,
        checkpoint,
    )


def serve_hll(spark: SparkSession, out_path: str) -> DataFrame:
    """The current distinct-user estimate: max-merge the register
    store and evaluate the batch query's own estimate expression."""
    regs = (
        spark.read.parquet(out_path)
        .groupBy("reg")
        .agg(F.max("mr").alias("mr"))
    )
    return (
        regs.agg(
            F.count(F.lit(1)).alias("filled"),
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {HLL_LOW_BITS + 1} - mr)"
                )
            ).alias("s_filled"),
        )
        .selectExpr(
            f"CAST({HLL_M} AS BIGINT) AS m",
            "filled",
            f"s_filled + (CAST({HLL_M} AS BIGINT) - filled)"
            f" * {1 << (HLL_LOW_BITS + 1)} AS s",
            f"CAST({HLL_M} AS BIGINT) - filled AS v",
        )
        .selectExpr("m", "filled", f"{_EST} AS hll_estimate")
    )
