"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``bike_analyzer_spark``; this module only
aggregates the per-operator QUERIES/ORACLES registries.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from bike_analyzer_spark.operators import kpi

#: Every operator module that defines QUERIES (and ORACLES), in
#: registration order; each module keeps its own dict order.
MODULE_NAMES = (
    "analytics_ext",
    "asof",
    "assoc",
    "classifier",
    "curate",
    "dedup",
    "divergence",
    "drift",
    "evalsuite",
    "experiment",
    "funcsuite",
    "funnels",
    "fuzzy",
    "gapfill",
    "graph",
    "hypertable",
    "importance",
    "ivf",
    "ivfpq",
    "kpi",
    "layout",
    "lm",
    "mixing",
    "multimodal",
    "od",
    "packing",
    "pq",
    "profile",
    "quality",
    "rangejoin",
    "readers",
    "retrieval",
    "sampling",
    "scale",
    "scrub",
    "semdedup",
    "sequences",
    "setjoin",
    "similarity",
    "stats",
    "streamserve",
    "substring",
    "text",
    "tpch",
    "tpch_close",
    "useranalytics",
    "vocab",
    "warehouse_ext",
    "windows",
    "winfuncs",
    "winnow",
)
_MODULES = tuple(
    import_module(f"bike_analyzer_spark.operators.{name}")
    for name in MODULE_NAMES
)

#: The driver's correctness check records only the FIRST 50 queries
#: of ``queries()``. These names are seated there ahead of module
#: order: queries without two consecutive driver greens (new, or
#: edited since their last greens). tests/test_rotation.py enforces
#: that every such query is listed here.
WINDOW_FIRST = (
    # edited through dedup.py (shingle-set frame) after their greens
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_incr_near",
    "minhash_error_profile",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Top-10 value-to-balance ratio: exercises the latest-snapshot
    scalar max, broadcast dim join, null-guarded rounded ratio, and
    deterministic top-k (reference sql/queries.sql:16-31).
    """
    return kpi.q2_top10_value_ratio(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    flat: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        flat.update(m.QUERIES)
    return {**{q: flat[q] for q in WINDOW_FIRST}, **flat}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
