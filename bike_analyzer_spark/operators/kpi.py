"""KPI query corpus — Spark-native analogs of the reference's declared
query surface (reference sql/queries.sql:1-59, SURVEY.md §2.11),
expressed over the driver testdata per FIXTURES.md's mapping
(events ≈ station_status, customer ≈ stations dimension).

Each query function takes (spark, sf_dir) -> DataFrame; ORACLES holds
the DuckDB-SQL twin with identical column aliases (the driver's
compare sorts columns by name and hashes values).

Plan-shape notes (verified via .explain("formatted")):
- Q1/Q2's "latest snapshot" scalar-max (reference queries.sql:4-6,
  operator J1) compiles to a 1-row aggregate broadcast to the fact
  scan — no full shuffle.
- Q2's dim join (J2) broadcasts the filtered customer dimension.
- aggregates are partial (map-side) + final hash aggregates; no sort
  is requested except under a LIMIT (top-k plans as
  TakeOrderedAndProject, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents, halfup_avg_sql, halfup_ratio_sql
from ..sources.catalog import load
from . import sorted_small

HOUR_ISO = "yyyy-MM-dd'T'HH:00:00"  # byte-format of reference queries.sql:48


def q1_network_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network summary @ latest snapshot (reference sql/queries.sql:3-14).

    Latest hour bucket stands in for the latest scrape batch: global
    MAX (A1) -> join fact to the 1-row max (J1, broadcast) -> count
    distinct + sums (A3/A4).

    Round-3: reads the date-partitioned layout and pre-prunes to the
    max partition from the partition LISTING (no data scan) — the max
    hour necessarily lives in the max date, so results are identical
    while the scan touches one directory instead of the whole table.
    """
    from ..sources.catalog import events_partitioned, latest_event_date

    events = events_partitioned(spark, sf_dir)
    events = events.filter(
        F.col("event_date") == F.to_date(F.lit(latest_event_date(sf_dir)))
    )
    with_hour = events.withColumn("h", F.date_trunc("hour", F.col("ts")))
    latest = with_hour.agg(F.max("h").alias("h"))
    snap = with_hour.join(F.broadcast(latest), "h")
    # exact integer-cents money math (functions.exact): rounded
    # double avgs flip one ulp cross-engine at 2^a·5^b counts
    return snap.agg(
        F.countDistinct("user_id").alias("active_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents(F.col("value"))).alias("_c"),
    ).selectExpr(
        "active_users",
        "n_events",
        "round(_c / CAST(100 AS DOUBLE), 4) AS total_value",
        halfup_avg_sql("_c", "n_events") + " AS avg_value",
    )


def q2_top10_value_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by value-to-balance ratio (reference
    sql/queries.sql:16-31: occupancy% = 100*bikes/NULLIF(capacity,0),
    positive-capacity guard P3, ROUND F1, top-k O1).

    customer.c_acctbal plays `capacity`; the guard, the NULLIF
    div-by-zero protection, and the rounded ratio are semantically
    identical. Tie-broken by user_id so the top-10 SET is deterministic.
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 0)
    )
    totals = events.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value")
    )
    # No broadcast hint: the dimension grows with SF, so a forced
    # broadcast risks OOM at sf100+. AQE's runtime size check picks
    # broadcast-hash when the filtered dim is actually small.
    joined = totals.join(customer, totals.user_id == customer.c_custkey)
    ratio = F.round(
        F.lit(100.0) * F.col("total_value") / F.nullif(F.col("c_acctbal"), F.lit(0.0)),
        1,
    )
    return (
        joined.select(
            "user_id",
            "c_name",
            "total_value",
            ratio.alias("value_per_balance_pct"),
        )
        .orderBy(F.desc("value_per_balance_pct"), F.asc("user_id"))
        .limit(10)
    )


def q3_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly availability profile per key (reference sql/queries.sql:33-42):
    USING-join to the dimension (J3), STRFTIME('%H') hour extraction
    (F3), 3-key grouped AVG (A5), multi-key sort (O2).

    The dim join mirrors `JOIN stations USING(station_id)` — the name
    column rides along in the grouping key exactly as the reference
    groups by `s.name`.
    """
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    return (
        events.join(customer, "user_id")
        .groupBy("user_id", "c_name", F.date_format("ts", "HH").alias("hour"))
        .agg(
            F.sum(cents(F.col("value"))).alias("_c"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # exact integer-cents half-up mean (functions.exact): rounded
        # double avgs flip one ulp cross-engine at 2^a·5^b counts
        .selectExpr(
            "user_id",
            "c_name",
            "hour",
            halfup_avg_sql("_c", "n_events") + " AS avg_value",
            "n_events",
        )
        .orderBy("c_name", "hour")
    )


def q4_hourly_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weather-correlation analog (reference sql/queries.sql:44-59):
    hour-bucket CTE aggregate (F4+A6) equi-joined to a second hourly
    series (J4), hour key in the reference's exact ISO byte format
    `SUBSTR(scraped_at,1,13) || ':00:00'`.

    purchase-events/hour joined to view-events/hour stands in for
    status/hour joined to weather_hourly.

    Scale note: ONE scan of the fact with conditional aggregation,
    not two scans + a shuffle join — the inner-join semantics of the
    oracle (hours present in both series) are recovered by filtering
    hours where either side is empty. At 100 TB this halves fact I/O
    and removes an entire shuffle stage.
    """
    events = load(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts")).alias("h")
    is_p = F.col("event_type") == "purchase"
    is_v = F.col("event_type") == "view"
    return (
        events.groupBy(h)
        .agg(
            F.round(F.sum(F.when(is_p, F.col("value"))), 4).alias(
                "purchase_value"
            ),
            F.count(F.when(is_p, F.lit(1))).alias("purchases"),
            F.count(F.when(is_v, F.lit(1))).alias("views"),
        )
        .filter((F.col("purchases") > 0) & (F.col("views") > 0))
        .select(
            F.date_format("h", HOUR_ISO).alias("hour"),
            "purchase_value",
            "purchases",
            "views",
        )
        .transform(sorted_small, "hour")
    )


def f_haversine_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine distance composed from native math functions — the
    reference's utils.py:12-19 kernel (F7/U1) deliberately NOT done as
    a UDF: radians/sin/cos/atan2/sqrt stay inside whole-stage codegen.

    Pseudo-coordinates derived deterministically from c_custkey stand
    in for station lat/lon (testdata has no geo columns).
    """
    from ..functions.geo import CITY_LAT, CITY_LON, haversine_m, pseudo_coords_cols

    customer = load(spark, sf_dir, "customer")
    lat, lon = pseudo_coords_cols(F.col("c_custkey"))
    dist_m = haversine_m(F.lit(CITY_LAT), F.lit(CITY_LON), lat, lon)
    return customer.select(
        "c_custkey",
        F.round(lat, 6).alias("lat"),
        F.round(lon, 6).alias("lon"),
        F.round(dist_m, 2).alias("dist_center_m"),
    )


def f_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surgery (reference F12, etl_gbfs.py:123-125
    vehicles_json): parse events.props JSON, extract + aggregate.
    """
    # Spread read: JSON parsing is the dominant per-row cost and the
    # 1-file scan is one task. Safe HERE because every aggregate below
    # is integer-exact (sum/avg/count over int — no float
    # accumulation-order sensitivity); the general events load stays
    # unspread (see catalog.SPREAD_TABLES).
    from ..sources.catalog import load_events_spread

    events = load_events_spread(spark, sf_dir)
    # Pre-project the extraction so the JSON string is parsed ONCE per
    # row, not once per aggregate expression referencing it.
    k = events.select(
        "event_type", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    return (
        k.groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        # integer mean via exact half-up (functions.exact)
        .selectExpr(
            "event_type",
            "k_sum",
            halfup_ratio_sql("k_sum", "n") + " AS k_avg",
            "n",
        )
    )


def f_json_vehicles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full F12 (reference etl_gbfs.py:123-125 vehicles_json): build
    the vehicles-shaped JSON array string per event, from_json it with
    the declared array-of-struct schema (schemas.VEHICLE_TYPE), explode
    and aggregate — plus a to_json roundtrip equality audit.
    """
    from ..schemas import VEHICLE_TYPE
    from ..sources.catalog import load_events_spread

    # integer-only aggregates -> order-safe to read through the spread
    # copy ahead of the per-row from_json/to_json work (see
    # f_json_props)
    events = load_events_spread(spark, sf_dir)
    vj = F.concat(
        F.lit('[{"vehicle_type_id":"'),
        F.col("event_type"),
        F.lit('","count":'),
        F.get_json_object("props", "$.k"),
        F.lit('},{"vehicle_type_id":"spare","count":1}]'),
    )
    parsed = events.select(
        "event_type",
        vj.alias("vehicles_json"),
        F.from_json(vj, VEHICLE_TYPE).alias("vehicles"),
    ).withColumn(
        "roundtrip_ok",
        (F.to_json("vehicles") == F.col("vehicles_json")).cast("int"),
    )
    # explode_outer, NOT explode: the inner explode makes Catalyst
    # infer a `size(vehicles) > 0` filter and push it below the
    # repartition to the single-task scan — where it re-evaluates
    # from_json per row on one core, defeating the spread. The outer
    # form infers no filter; the explicit null-guard sits ABOVE the
    # Generate (v is a generated attribute) so it cannot sink.
    return (
        parsed.select(
            "roundtrip_ok", F.explode_outer("vehicles").alias("v")
        )
        .filter(F.col("v").isNotNull())
        .groupBy(F.col("v.vehicle_type_id").alias("vehicle_type_id"))
        .agg(
            F.sum(F.col("v.count").cast("bigint")).alias("total_count"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("roundtrip_ok").alias("n_roundtrip_exact"),
        )
        .orderBy("vehicle_type_id")
    )


def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage in one aggregated pass over lineitem:
    F2 coalesce, F9 clip (least/greatest), F10 bool->int, F11
    array_join/concat_ws, F16 int cast, F17 first-non-null chain,
    F18 sign split (reference sql/queries.sql + od_inference.py
    idioms; see SURVEY.md §2.8)."""
    li = load(spark, sf_dir, "lineitem")
    clip = F.least(F.greatest(F.col("l_quantity"), F.lit(5.0)), F.lit(45.0))
    boolint = (F.col("l_discount") > 0.05).cast("int")
    sign = F.when(F.col("l_extendedprice") - 30000.0 < 0, -1).when(
        F.col("l_extendedprice") - 30000.0 > 0, 1
    ).otherwise(0)
    firstnn = F.coalesce(
        F.nullif(F.col("l_returnflag"), F.lit("N")),
        F.nullif(F.col("l_linestatus"), F.lit("O")),
        F.lit("fallback"),
    )
    return (
        li.groupBy(
            F.concat_ws("|", F.array("l_returnflag", "l_linestatus")).alias(
                "flag_status"
            ),
            firstnn.alias("first_non_default"),
        )
        .agg(
            F.round(F.sum(F.coalesce("l_tax", F.lit(0.0))), 4).alias("sum_tax"),
            F.round(F.sum(clip), 4).alias("sum_qty_clipped"),
            F.sum(boolint.cast("bigint")).alias("n_discounted"),
            F.sum(F.col("l_quantity").cast("int").cast("bigint")).alias(
                "sum_qty_int"
            ),
            F.sum(sign.cast("bigint")).alias("sign_balance"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("flag_status", "first_non_default")
    )


def a2_time_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (reference utils.py:55-62): global MIN+MAX event-time bounds
    used for UI filter defaults; epoch micros for cross-engine parity."""
    events = load(spark, sf_dir, "events")
    return events.agg(
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def a12_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/S15 (reference streamlit_app.py:37-47): per-table existence
    probe — row counts for every catalog table, errors impossible by
    construction (schema-pinned reads)."""
    from ..schemas import TABLE_NAMES

    parts = [
        load(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("tbl"), "n_rows")
        for t in TABLE_NAMES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl")


QUERIES = {
    "q1_network_summary": q1_network_summary,
    "q3_hourly_profile": q3_hourly_profile,
    "q4_hourly_correlation": q4_hourly_correlation,
    "a2_time_bounds": a2_time_bounds,
    "q2_top10_value_ratio": q2_top10_value_ratio,
    "f_haversine_suite": f_haversine_suite,
    "f_json_props": f_json_props,
    "f_json_vehicles": f_json_vehicles,
    "f_scalar_suite": f_scalar_suite,
    "a12_table_counts": a12_table_counts,
}

ORACLES = {
    "q1_network_summary": f"""
        WITH last AS (SELECT max(date_trunc('hour', ts)) AS h FROM events),
        g AS (
            SELECT count(DISTINCT user_id) AS active_users,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS _c
            FROM events, last
            WHERE date_trunc('hour', ts) = last.h
        )
        SELECT active_users, n_events,
               round(_c / 100.0, 4) AS total_value,
               {halfup_avg_sql("_c", "n_events", engine="duck")}
                   AS avg_value
        FROM g
    """,
    "q2_top10_value_ratio": """
        WITH totals AS (
            SELECT user_id, round(sum(value), 4) AS total_value
            FROM events GROUP BY user_id
        )
        SELECT user_id, c_name, total_value,
               round(100.0 * total_value / nullif(c_acctbal, 0), 1)
                   AS value_per_balance_pct
        FROM totals JOIN customer ON user_id = c_custkey
        WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
        ORDER BY value_per_balance_pct DESC, user_id ASC
        LIMIT 10
    """,
    "q3_hourly_profile": f"""
        WITH g AS (
            SELECT user_id, c_name, strftime(ts, '%H') AS hour,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS _c,
                   count(*) AS n_events
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2, 3
        )
        SELECT user_id, c_name, hour,
               {halfup_avg_sql("_c", "n_events", engine="duck")}
                   AS avg_value,
               n_events
        FROM g
        ORDER BY c_name, hour
    """,
    "q4_hourly_correlation": """
        WITH p AS (
            SELECT date_trunc('hour', ts) AS h,
                   round(sum(value), 4) AS purchase_value,
                   count(*) AS purchases
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), v AS (
            SELECT date_trunc('hour', ts) AS h, count(*) AS views
            FROM events WHERE event_type = 'view' GROUP BY 1
        )
        SELECT strftime(p.h, '%Y-%m-%dT%H:00:00') AS hour,
               purchase_value, purchases, views
        FROM p JOIN v ON p.h = v.h
        ORDER BY hour
    """,
    "f_haversine_suite": """
        WITH pts AS (
            SELECT c_custkey,
                   -30.0::DOUBLE + (c_custkey % 100) * 0.01::DOUBLE AS lat,
                   -51.2::DOUBLE + ((c_custkey * 7) % 100) * 0.01::DOUBLE AS lon
            FROM customer
        )
        SELECT c_custkey,
               round(lat, 6) AS lat,
               round(lon, 6) AS lon,
               round(
                   2.0 * 6371000.0 * atan2(
                       sqrt(
                           sin(radians(lat - (-30.0346)) / 2)
                               * sin(radians(lat - (-30.0346)) / 2)
                           + cos(radians(-30.0346)) * cos(radians(lat))
                               * sin(radians(lon - (-51.2177)) / 2)
                               * sin(radians(lon - (-51.2177)) / 2)
                       ),
                       sqrt(1.0 - (
                           sin(radians(lat - (-30.0346)) / 2)
                               * sin(radians(lat - (-30.0346)) / 2)
                           + cos(radians(-30.0346)) * cos(radians(lat))
                               * sin(radians(lon - (-51.2177)) / 2)
                               * sin(radians(lon - (-51.2177)) / 2)
                       ))
                   ), 2) AS dist_center_m
        FROM pts
    """,
    "f_json_props": f"""
        -- DuckDB widens integer SUM to HUGEINT (int128); Spark's sum
        -- over int is bigint. Cast the sum's OUTPUT so the driver's
        -- type-sensitive value hash sees bigint on both sides.
        SELECT event_type, k_sum,
               {halfup_ratio_sql("k_sum", "n", engine="duck")} AS k_avg,
               n
        FROM (
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k')
                                 AS INT)) AS BIGINT) AS k_sum,
                   count(*) AS n
            FROM events GROUP BY event_type
        )
    """,
    # Semantic twin, independent path: the Spark side parses the JSON it
    # built; the oracle derives the same totals directly from the fields
    # the JSON was built from (plus the constant 'spare' element).
    "f_json_vehicles": """
        SELECT event_type AS vehicle_type_id,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                    AS BIGINT) AS total_count,
               count(*) AS n_rows,
               count(*) AS n_roundtrip_exact
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'spare', count(*), count(*), count(*) FROM events
        ORDER BY vehicle_type_id
    """,
    "f_scalar_suite": """
        SELECT l_returnflag || '|' || l_linestatus AS flag_status,
               coalesce(nullif(l_returnflag, 'N'),
                        nullif(l_linestatus, 'O'),
                        'fallback') AS first_non_default,
               round(sum(coalesce(l_tax, 0.0)), 4) AS sum_tax,
               round(sum(least(greatest(l_quantity, 5.0), 45.0)), 4)
                   AS sum_qty_clipped,
               CAST(sum(CAST(l_discount > 0.05 AS INT)) AS BIGINT)
                   AS n_discounted,
               CAST(sum(CAST(trunc(l_quantity) AS INT)) AS BIGINT)
                   AS sum_qty_int,
               CAST(sum(CASE WHEN l_extendedprice - 30000.0 < 0 THEN -1
                             WHEN l_extendedprice - 30000.0 > 0 THEN 1
                             ELSE 0 END) AS BIGINT) AS sign_balance,
               count(*) AS n
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY flag_status, first_non_default
    """,
    "a2_time_bounds": """
        SELECT epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
               epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us,
               count(*) AS n_events
        FROM events
    """,
    "a12_table_counts": """
        SELECT 'region' AS tbl, count(*) AS n_rows FROM region
        UNION ALL SELECT 'nation', count(*) FROM nation
        UNION ALL SELECT 'customer', count(*) FROM customer
        UNION ALL SELECT 'supplier', count(*) FROM supplier
        UNION ALL SELECT 'part', count(*) FROM part
        UNION ALL SELECT 'orders', count(*) FROM orders
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        UNION ALL SELECT 'events', count(*) FROM events
        UNION ALL SELECT 'documents', count(*) FROM documents
        UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        ORDER BY tbl
    """,
}
