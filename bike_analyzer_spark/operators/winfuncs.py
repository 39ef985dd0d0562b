"""Ranking / distribution / navigation window functions and explicit
GROUPING SETS — the §2.6/§2.5 function-surface closers.

The suite already exercises row_number, rank-free lag/lead, RANGE
frames (rolling_user_spend), percent_rank/cume_dist as integer
identities (purchase_value_rank), CUBE (cube_type_hour) and ROLLUP
(hypertable). This module adds the remaining standard shapes a
warehouse user reaches for: NTILE bucketing, the navigation trio
first_value / nth_value / last_value under an explicit full-frame,
and a hand-picked GROUPING SETS list (the general form CUBE/ROLLUP
are sugar over).

Exactness: every measure is integer milli-units (`round(value*1000)`
— the fixture contract pinned in tests) summed in bigint; displays
go through `functions/exact.py` half-up. NTILE and the navigation
functions are ORDERED BY the unique (v_m/ts, event_id) key, so both
engines compute identical bucketings with no tie ambiguity.

Scale: the windows partition by user_id (the natural high-cardinality
key — no global window anywhere); GROUPING SETS expands BEFORE the
partial aggregate (one Expand + one exchange of pre-aggregated rows,
same plan class as the CUBE — plan-pinned)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import halfup_duck, halfup_expr
from ..sources.catalog import load

#: quartile count for the NTILE bucketing
N_TILES = 4
#: navigation probe: the k-th purchase by time
NTH_K = 2


def _purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 1000, 0).cast("long").alias("v_m"),
        )
    )


def purchase_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE({N_TILES}) of each user's purchases by value, rolled up
    per quartile: how much of the spend sits in each within-user
    value quartile. NTILE follows the SQL-standard distribution rule
    (first `n mod t` buckets get the extra row), identical in both
    engines over the unique (v_m, event_id) order; the rollup sums
    integer milli-units, so the per-quartile totals are exact."""
    w = Window.partitionBy("user_id").orderBy("v_m", "event_id")
    return (
        _purchases(spark, sf_dir)
        .withColumn("quartile", F.ntile(N_TILES).over(w).cast("int"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v_m").alias("_vm"),
        )
        .select(
            "quartile",
            "n_purchases",
            halfup_expr("_vm", "1000", 3).alias("total_value"),
        )
        .orderBy("quartile")
    )


def user_value_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value of each user's purchase
    values in TIME order — the navigation-function trio under an
    explicit ROWS UNBOUNDED-to-UNBOUNDED frame (the default
    RANGE-to-CURRENT frame would make last_value a self-reference
    and nth_value null for early rows; the explicit frame is the
    whole point of the shape). One row per user; values stay exact
    (milli-units through the identity half-up display)."""
    order = [F.col("ts"), F.col("event_id")]
    full = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_row = (
        _purchases(spark, sf_dir)
        .withColumn("first_m", F.first_value(F.col("v_m")).over(full))
        .withColumn(
            "nth_m", F.nth_value(F.col("v_m"), NTH_K).over(full)
        )
        .withColumn("last_m", F.last_value(F.col("v_m")).over(full))
    )
    return (
        per_row.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.min("first_m").alias("_f"),  # constant per user
            F.min("nth_m").alias("_n"),
            F.min("last_m").alias("_l"),
        )
        .select(
            "user_id",
            "n_purchases",
            halfup_expr("_f", "1000", 3).alias("first_value"),
            halfup_expr("coalesce(_n, 0)", "1000", 3).alias("second_value"),
            halfup_expr("_l", "1000", 3).alias("last_value"),
        )
        .orderBy("user_id")
    )


def event_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((event_type), (hour), ()) — the
    hand-picked list CUBE and ROLLUP are special cases of (the
    (event_type, hour) cell of the cube is deliberately absent:
    exactly what only GROUPING SETS can express). One Expand + one
    exchange of pre-aggregated rows, like the cube (plan-pinned).
    gid is spelled explicitly as grouping(event_type)*2 +
    grouping(hour) so both engines agree on bit order by
    construction; the aggregated-away keys display as '(all)' / -1
    rather than NULL (grouping-set NULLs are metadata, not data —
    and a mixed None/str column defeats plain tuple sorting in
    downstream consumers)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hour"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_m"),
    )
    return (
        ev.groupingSets(
            [["event_type"], ["hour"], []], "event_type", "hour"
        )
        .agg(
            (F.grouping("event_type") * 2 + F.grouping("hour"))
            .cast("int")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_m").alias("_vm"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias(
                "event_type"
            ),
            F.coalesce(F.col("hour"), F.lit(-1)).alias("hour"),
            "gid",
            "n_events",
            halfup_expr("_vm", "1000", 3).alias("total_value"),
        )
        .orderBy("gid", "event_type", "hour")
    )


QUERIES = {
    "purchase_quartiles": purchase_quartiles,
    "user_value_navigation": user_value_navigation,
    "event_grouping_sets": event_grouping_sets,
}

_PURCH = """
    SELECT user_id, event_id, ts,
           CAST(round(value * 1000) AS BIGINT) AS v_m
    FROM events WHERE event_type = 'purchase'
"""

ORACLES = {
    "purchase_quartiles": f"""
        WITH p AS ({_PURCH}),
        t AS (
            SELECT ntile({N_TILES}) OVER (
                       PARTITION BY user_id
                       ORDER BY v_m, event_id) AS quartile,
                   v_m
            FROM p
        )
        SELECT CAST(quartile AS INT) AS quartile,
               count(*) AS n_purchases,
               {halfup_duck("CAST(sum(v_m) AS BIGINT)", "1000", 3)}
                   AS total_value
        FROM t
        GROUP BY 1
        ORDER BY quartile
    """,
    "user_value_navigation": f"""
        WITH p AS ({_PURCH}),
        nav AS (
            SELECT user_id,
                   first_value(v_m) OVER w AS f,
                   nth_value(v_m, {NTH_K}) OVER w AS n,
                   last_value(v_m) OVER w AS l
            FROM p
            WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, count(*) AS n_purchases,
               {halfup_duck("CAST(min(f) AS BIGINT)",
                            "1000", 3)} AS first_value,
               {halfup_duck("CAST(coalesce(min(n), 0) AS BIGINT)", "1000", 3)}
                   AS second_value,
               {halfup_duck("CAST(min(l) AS BIGINT)", "1000", 3)} AS last_value
        FROM nav
        GROUP BY user_id
        ORDER BY user_id
    """,
    "event_grouping_sets": f"""
        SELECT coalesce(event_type, '(all)') AS event_type,
               CAST(coalesce(hour, -1) AS INT) AS hour,
               CAST(GROUPING(event_type) * 2 + GROUPING(hour) AS INT)
                   AS gid,
               count(*) AS n_events,
               {halfup_duck("CAST(sum(v_m) AS BIGINT)", "1000", 3)}
                   AS total_value
        FROM (
            SELECT event_type,
                   CAST(hour(ts) AS INT) AS hour,
                   CAST(round(value * 1000) AS BIGINT) AS v_m
            FROM events
        )
        GROUP BY GROUPING SETS ((event_type), (hour), ())
        ORDER BY gid, event_type, hour
    """,
}


#: distribution-rank quantizer (micro-units of the [0,1] scale)
DIST_QUANT = 1_000_000


def purchase_value_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """percent_rank + cume_dist — the two SQL distribution window
    functions not yet exercised anywhere in the corpus (rank /
    dense_rank / row_number / ntile / lag / lead / first / last all
    are): each purchase's within-user value percentile
    ((rank-1)/(n-1)) and cumulative distribution (rows<=current / n),
    rolled up to the per-user head (top purchase by value) so the
    output stays user-grain.

    Exactness: both functions are rationals of exact integers over
    the unique (v_m, event_id) total order; each is quantized ONCE
    (round(x * 1e6) as bigint) from IEEE doubles both engines derive
    from the same integers — the micro-unit discipline. The head
    row's percent_rank is (n-1)/(n-1) = exactly 1e6 when the user
    has >1 purchase, pinned in pytest; its cume_dist is exactly 1e6
    always (every row <= the max).

    Scale shape: the window partitions by user (per-user purchase
    counts bound the sort); the head pick is the same window's
    row_number — one shuffle total, then a user-grain projection."""
    w = Window.partitionBy("user_id").orderBy("v_m", "event_id")
    return (
        _purchases(spark, sf_dir)
        .select(
            "user_id",
            "event_id",
            "v_m",
            F.expr(
                f"CAST(round(percent_rank() OVER (PARTITION BY user_id"
                f" ORDER BY v_m, event_id) * {DIST_QUANT}) AS BIGINT)"
            ).alias("pr_micro"),
            F.expr(
                f"CAST(round(cume_dist() OVER (PARTITION BY user_id"
                f" ORDER BY v_m, event_id) * {DIST_QUANT}) AS BIGINT)"
            ).alias("cd_micro"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("v_m"), F.desc("event_id")
                )
            )
            .alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias(
                "n_purchases"
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_purchases",
            F.col("event_id").alias("top_event_id"),
            halfup_expr("v_m", "1000", 3).alias("top_value"),
            F.col("pr_micro").alias("top_percent_rank_micro"),
            F.col("cd_micro").alias("top_cume_dist_micro"),
        )
        .orderBy("user_id")
    )


QUERIES["purchase_value_distribution"] = purchase_value_distribution

ORACLES["purchase_value_distribution"] = f"""
    WITH p AS (
        SELECT user_id, event_id,
               CAST(round(value * 1000, 0) AS BIGINT) AS v_m
        FROM events WHERE event_type = 'purchase'
    ),
    d AS (
        SELECT user_id, event_id, v_m,
               CAST(round(percent_rank() OVER (PARTITION BY user_id
                   ORDER BY v_m, event_id) * {DIST_QUANT}) AS BIGINT)
                   AS pr_micro,
               CAST(round(cume_dist() OVER (PARTITION BY user_id
                   ORDER BY v_m, event_id) * {DIST_QUANT}) AS BIGINT)
                   AS cd_micro,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY v_m DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_purchases
        FROM p
    )
    SELECT user_id, n_purchases,
           event_id AS top_event_id,
           {halfup_duck('v_m', '1000', 3)} AS top_value,
           pr_micro AS top_percent_rank_micro,
           cd_micro AS top_cume_dist_micro
    FROM d WHERE rn = 1
    ORDER BY user_id
"""
