"""Query operators. Shared DataFrame helper: `sorted_small`."""

from __future__ import annotations

from pyspark.sql import DataFrame


def sorted_small(df: DataFrame, *cols) -> DataFrame:
    """`df.orderBy(*cols)` sorted in ONE task:
    `coalesce(1).sortWithinPartitions(...)`. A global `orderBy` plans
    an `Exchange rangepartitioning`, i.e. a sampling job for the range
    bounds plus a shuffle-stage job; this plans neither.

    `coalesce(1)` is narrow, so it pulls into that one task the whole
    stage back to the last exchange, not just the sort. Use it only
    where that stage is the final aggregate over a shuffle (plus
    projections and filters of its output), so the task reads partial
    aggregates bounded by the group keys (types, hour buckets). Where
    the stage holds a join, a window or a generator over raw or
    dimension-sized rows, or the result itself grows with rows or a
    dimension, keep `orderBy`. tests/test_order_contract.py checks
    this shape on the executed plan.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)
