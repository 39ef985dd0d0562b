"""Reader-path operators (SURVEY.md §2.1-§2.2): the projection +
not-null station reader (P1, reference utils.py:22-33), the dynamic
time-range status reader (P2 + O3, utils.py:36-52), and the
`spark.sql`-over-views path the reference notebook uses (S14,
notebooks/01_eda.ipynb / utils.py:32,51).

Pushdown is the point here: the conditional WHERE the reference
builds by string concatenation (utils.py:40-48) is just a filter that
Catalyst pushes into the parquet scan — tests assert PushedFilters
actually contains the range predicate, because a scan that reads
everything and filters later is wrong at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load, register_views


def read_projected(
    spark: SparkSession, sf_dir: str, name: str, cols: list[str], notnull: list[str]
) -> DataFrame:
    """P1: explicit projection + not-null guard, both pushed to the scan."""
    df = load(spark, sf_dir, name).select(*cols)
    for c in notnull:
        df = df.filter(F.col(c).isNotNull())
    return df


def read_time_range(
    spark: SparkSession,
    sf_dir: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """P2: conditionally-bounded time-range read, sorted by event time
    (the reference builds the WHERE clause conditionally; here absent
    bounds simply add no filter). Reads the date-partitioned layout
    through `catalog.load_events_range_pruned`: date bounds prune
    whole partition dirs (PartitionFilters) and the precise ts bounds
    prune row groups (PushedFilters)."""
    from ..sources.catalog import load_events_range_pruned

    return load_events_range_pruned(
        spark, sf_dir, start=start, end=end
    ).drop("event_date").orderBy("ts", "event_id")


def p1_projected_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 over the dimension: id/name/acctbal with not-null guards."""
    return read_projected(
        spark,
        sf_dir,
        "customer",
        ["c_custkey", "c_name", "c_acctbal"],
        ["c_acctbal"],
    ).orderBy("c_custkey")


def p2_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+O3: a bounded slice of the event stream, time-ordered."""
    df = read_time_range(
        spark, sf_dir, start="2024-01-08 00:00:00", end="2024-01-09 00:00:00"
    )
    return df.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        F.round("value", 4).alias("value"),
    )


def s14_sql_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: the notebook path — temp views + raw SQL text through
    spark.sql (same network-summary semantics as q1, distinct code
    path: parser/analyzer instead of DataFrame builders)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH last AS (
            SELECT max(date_trunc('hour', ts)) AS h FROM events
        )
        SELECT count(DISTINCT user_id) AS active_users,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events JOIN last ON date_trunc('hour', ts) = last.h
        """
    )


QUERIES = {
    "p1_projected_notnull": p1_projected_notnull,
    "p2_time_range": p2_time_range,
    "s14_sql_corpus": s14_sql_corpus,
}

ORACLES = {
    "p1_projected_notnull": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_acctbal IS NOT NULL
        ORDER BY c_custkey
    """,
    "p2_time_range": """
        SELECT event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               event_type, round(value, 4) AS value
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
          AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-09 00:00:00'
        ORDER BY ts, event_id
    """,
    "s14_sql_corpus": """
        WITH last AS (SELECT max(date_trunc('hour', ts)) AS h FROM events)
        SELECT count(DISTINCT user_id) AS active_users,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events, last
        WHERE date_trunc('hour', ts) = last.h
    """,
}
