"""Window/delta layer — the per-key time-series idioms the reference
builds all three dashboard analyses on (SURVEY.md §2.5, §2.4), mapped
onto the driver testdata (events ≈ station_status: user_id plays
station_id, value plays num_bikes_available, ts plays scraped_at).

Operators covered (reference file:line):
- W1 per-key lag-diff       od_inference.py:51-53, streamlit_app.py:185-186
- A7 last-per-bucket        od_inference.py:51-52
- W3 latest-snapshot filter sql/queries.sql:4-6
- F6 N-minute floor bucket  od_inference.py:50
- A8 sum of abs deltas      streamlit_app.py:187-188
- A9 grouped mean           streamlit_app.py:273
- A11 top-20 roll-up        streamlit_app.py:201
- J5/J7 left join + fillna  streamlit_app.py:190, :274
- F2/F8/F15 coalesce/abs/fillna

Plan-shape notes (verified with .explain("formatted")):
- W1 and the A8/A9 aggregates that follow it hash-partition on user_id
  ONCE: the window's Exchange satisfies the downstream groupBy's
  distribution requirement, so the delta→activity pipeline is a
  single shuffle.
- Timestamps are returned as epoch seconds/micros (bigint), never raw
  timestamps: the driver compares against DuckDB reading parquet
  TIMESTAMP_NS directly, and an integer epoch is the one encoding
  both engines agree on byte-for-byte.
- W3's `max(ts) OVER ()` window form compiles to a single-partition
  Window node (every row moves to one task) — unusable at 100 TB. The
  scale-safe plan for the same semantics is a 1-row aggregate
  broadcast back to the fact scan, which is what this module does;
  the empty-window form is deliberately rejected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    cents,
    floordiv_duck,
    floordiv_sql,
    halfup_avg_sql,
)

#: floor-division second bucket for the DuckDB oracle (twin of the
#: Spark side's floordiv_sql; see functions/exact.py)
_TS_S_FLOOR = floordiv_duck("epoch_us(ts)", 1_000_000)
from ..sources.catalog import load
from . import sorted_small

def lag_delta(events: DataFrame, minutes: int | None = None) -> DataFrame:
    """W1: per-key inventory delta between consecutive snapshots.

    Reference od_inference.py:51-53: sort by (key, time), diff, fillna(0).
    When `minutes` is given, first collapses to the last value per
    (key, N-minute bucket) (A7+F6) and diffs the bucket series — the
    exact preprocessing `infer_flows` does before matching.
    """
    if minutes is not None:
        events = last_per_bucket(events, minutes)
        order = [F.col("bucket_s")]
        val = F.col("last_value")
    else:
        # deterministic within-key order: ts can tie, event_id cannot
        order = [F.col("ts"), F.col("event_id")]
        val = F.col("value")
    w = Window.partitionBy("user_id").orderBy(*order)
    return events.withColumn(
        "delta", F.round(F.coalesce(val - F.lag(val).over(w), F.lit(0.0)), 4)
    )


def last_per_bucket(events: DataFrame, minutes: int = 10) -> DataFrame:
    """A7+F6: last event value per (key, N-minute tumbling bucket).

    Reference od_inference.py:50-52 (`dt.floor(freq)` then
    `groupby(...).last()`). `max_by(struct(ts, event_id))` semantics via
    row_number keeps the pick deterministic under ts ties.
    """
    bucket_s = (
        F.floor(F.unix_timestamp("ts") / (60 * minutes)) * (60 * minutes)
    ).cast("long")
    w = Window.partitionBy("user_id", "bucket_s").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("bucket_s", bucket_s)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "bucket_s",
            F.col("value").alias("last_value"),
            "event_id",
            "ts",
        )
    )


def w1_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return lag_delta(events).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value"),
        "delta",
    )


def a7_last_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return last_per_bucket(events, minutes=10).select(
        "user_id",
        "bucket_s",
        F.round("last_value", 4).alias("last_value"),
        "event_id",
    )


def w3_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: restrict the fact to its latest snapshot, per-type roll-up.

    Same semantics as `max(h) OVER ()` + filter (reference
    sql/queries.sql:4-6) with the scale-safe plan: 1-row max aggregate
    broadcast back to the scan (see module docstring). Round-3: the
    scan pre-prunes to the max date partition via the partition
    listing (see kpi.q1_network_summary).
    """
    from ..sources.catalog import events_partitioned, latest_event_date

    events = events_partitioned(spark, sf_dir).filter(
        F.col("event_date") == F.to_date(F.lit(latest_event_date(sf_dir)))
    )
    with_hour = events.withColumn("h", F.date_trunc("hour", F.col("ts")))
    latest = with_hour.agg(F.max("h").alias("h"))
    return (
        with_hour.join(F.broadcast(latest), "h")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .transform(sorted_small, "event_type")
    )


def _activity_by_user(events: DataFrame) -> DataFrame:
    """A8: per-key activity = sum of |delta| (streamlit_app.py:187-188)."""
    return (
        lag_delta(events)
        .groupBy("user_id")
        .agg(F.round(F.sum(F.abs(F.col("delta"))), 4).alias("activity"))
    )


def a8_activity_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+J5+F15: activity left-joined onto the full dimension, absent
    keys zero-filled (streamlit_app.py:186-190).
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    activity = _activity_by_user(events)
    return (
        customer.join(
            activity, customer.c_custkey == activity.user_id, "left"
        )
        .na.fill({"activity": 0.0})
        .select("c_custkey", "c_name", "activity")
    )


def a9_avg_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+J7: per-key mean left-joined onto the dimension with fillna
    (streamlit_app.py:271-274 avg-bikes hotspots). The mean is the
    exact integer-cents half-up form (`functions.exact`): a rounded
    double avg of 2-decimal values flips by one ulp between engines
    whenever the group count is 2^a·5^b (seen at sf0.1, count 8).
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    means = (
        events.groupBy("user_id")
        .agg(
            F.sum(cents(F.col("value"))).alias("_c"),
            F.count(F.lit(1)).alias("_n"),
        )
        .selectExpr(
            "user_id", halfup_avg_sql("_c", "_n") + " AS avg_value"
        )
    )
    return (
        customer.join(means, customer.c_custkey == means.user_id, "left")
        .na.fill({"avg_value": 0.0})
        .select("c_custkey", "c_name", "avg_value")
    )


def a11_top20_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11+J6+O5: activity rolled up to the region grouping (nation
    plays bairro), top-20 (streamlit_app.py:196-201).

    nation is a fixed 25-row dimension — broadcast is always right.
    customer grows with SF, so its join relies on AQE's size check.
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    activity = _activity_by_user(events)
    return (
        activity.join(customer, activity.user_id == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("activity"), 4).alias("activity"))
        .orderBy(F.desc("activity"), F.asc("n_name"))
        .limit(20)
    )


def w4_sliding_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: trailing one-hour time-RANGE frame per event type — the
    moving-average idiom a status dashboard wants ("average over the
    LAST HOUR as of each event", not a fixed row count and not a
    tumbling bucket). `rangeBetween` on epoch seconds, so frames
    follow event TIME; row-frame windows can't express this when
    sampling is uneven.

    Exactness: values are quantized ONCE to integer milli-units, so
    frame sums are exact integers no matter how each engine
    evaluates the frame (Spark slides per row; DuckDB may use
    segment trees — float accumulation order would differ). The
    mean stays INTEGER too — micro-units via integer division —
    because a rounded double mean sits exactly on a .5 rounding
    boundary whenever the frame count is a power of two times a
    5-power (measured: 51.19875 rounded 4-digit differs between
    Spark's BigDecimal HALF_UP and DuckDB's double rounding).

    Scale shape: one hash partition on event_type + within-partition
    sort; each task slides its frame in one pass. Skew note: a
    low-cardinality partition key concentrates rows; at 100 TB this
    key set is fine (each type's series streams through one task's
    sort spill), but a single global-ordered range frame (no
    partitionBy) would be the same single-partition anti-pattern
    w3's docstring rejects."""
    ev = load(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        floordiv_sql("unix_micros(ts)", 1_000_000) + " AS ts_s",
        "CAST(round(value * 1000) AS BIGINT) AS v_m",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        "ts_s",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("v_m").over(w).alias("sum_mv"),
    ).selectExpr(
        "event_id",
        "event_type",
        "ts_s",
        "n_1h",
        "sum_mv",
        # trailing-hour mean in exact integer micro-units
        "(sum_mv * 1000) div n_1h AS avg_uv",
    )


QUERIES = {
    "w1_lag_delta": w1_lag_delta,
    "w4_sliding_hour_avg": w4_sliding_hour_avg,
    "a7_last_per_bucket": a7_last_per_bucket,
    "w3_latest_snapshot": w3_latest_snapshot,
    "a8_activity_by_user": a8_activity_by_user,
    "a9_avg_value_by_user": a9_avg_value_by_user,
    "a11_top20_by_nation": a11_top20_by_nation,
}

_DELTA_CTE = """
        SELECT user_id,
               round(coalesce(
                   value - lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id),
                   0), 4) AS delta
        FROM events
"""

ORACLES = {
    "w1_lag_delta": """
        SELECT event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               round(value, 4) AS value,
               round(coalesce(
                   value - lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id),
                   0), 4) AS delta
        FROM events
    """,
    "w4_sliding_hour_avg": f"""
        WITH fr AS (
            SELECT event_id, event_type, ts_s,
                   count(*) OVER w AS n_1h,
                   CAST(sum(v_m) OVER w AS BIGINT) AS sum_mv
            FROM (SELECT event_id, event_type,
                         {_TS_S_FLOOR} AS ts_s,
                         CAST(round(value * 1000) AS BIGINT) AS v_m
                  FROM events)
            WINDOW w AS (PARTITION BY event_type ORDER BY ts_s
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, event_type, ts_s, n_1h, sum_mv,
               CAST((sum_mv * 1000) // n_1h AS BIGINT) AS avg_uv
        FROM fr
    """,
    "a7_last_per_bucket": """
        WITH b AS (
            SELECT user_id, value, event_id,
                   CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600
                        AS BIGINT) AS bucket_s,
                   row_number() OVER (
                       PARTITION BY user_id,
                           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600)
                                * 600 AS BIGINT)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id, bucket_s, round(value, 4) AS last_value, event_id
        FROM b WHERE rn = 1
    """,
    "w3_latest_snapshot": """
        WITH last AS (SELECT max(date_trunc('hour', ts)) AS h FROM events)
        SELECT event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events, last
        WHERE date_trunc('hour', ts) = last.h
        GROUP BY event_type
        ORDER BY event_type
    """,
    "a8_activity_by_user": f"""
        WITH d AS ({_DELTA_CTE}),
        a AS (
            SELECT user_id, round(sum(abs(delta)), 4) AS activity
            FROM d GROUP BY user_id
        )
        SELECT c_custkey, c_name, coalesce(activity, 0.0) AS activity
        FROM customer LEFT JOIN a ON c_custkey = user_id
    """,
    "a9_avg_value_by_user": f"""
        WITH s AS (
            SELECT user_id,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS _c,
                   count(*) AS _n
            FROM events GROUP BY user_id
        ),
        m AS (
            SELECT user_id,
                   {halfup_avg_sql("_c", "_n", engine="duck")}
                       AS avg_value
            FROM s
        )
        SELECT c_custkey, c_name, coalesce(avg_value, 0.0) AS avg_value
        FROM customer LEFT JOIN m ON c_custkey = user_id
    """,
    "a11_top20_by_nation": f"""
        WITH d AS ({_DELTA_CTE}),
        a AS (
            SELECT user_id, round(sum(abs(delta)), 4) AS activity
            FROM d GROUP BY user_id
        )
        SELECT n_name, round(sum(activity), 4) AS activity
        FROM a
        JOIN customer ON user_id = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY activity DESC, n_name ASC
        LIMIT 20
    """,
}
