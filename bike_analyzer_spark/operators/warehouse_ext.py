"""Warehouse shape extensions, wave 2 — four classic plans the suite
didn't cover yet: conditional-aggregate ratio over a dim join (TPC-H
Q14 shape), dimension-filtered ANTI join, correlated-scalar-subquery-
rewritten-as-window, and CUBE with grouping ids.

Exactness discipline (functions/exact): money lifts to integer cents,
ratios/averages display through pure-bigint half-up, the
above-own-average comparison runs as an INTEGER cross-multiplication
(price_c * n > sum_c — no double mean anywhere), and the cube's value
measure aggregates integer milli-units so no engine can diverge by
summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    halfup_duck,
    halfup_expr,
    halfup_ratio_sql,
    halfup_ratio_wide_sql,
    halfup_wide_expr,
)
from ..sources.catalog import load

#: Q14-shape scan window (multiple months so the ratio has a series)
PROMO_START, PROMO_END = "1998-01-01", "1998-07-01"
#: dormancy window for the anti join
DORMANT_START, DORMANT_END = "1999-01-01", "2000-01-01"


def tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: monthly promo-revenue share. One fact scan with the
    ship-date range pushed down, an AQE-sized join to `part` (grows
    with SF — no forced broadcast), and a conditional aggregate: both
    the promo and total revenue sums ride the SAME partial aggregate,
    so the ratio costs one shuffle. promo_pct is
    100 * promo_rev / total_rev at 4 digits, pure-bigint half-up."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(PROMO_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(PROMO_END).cast("timestamp"))
        )
        .withColumn(
            "rev_u",
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            * (
                F.lit(100)
                - F.round(F.col("l_discount") * 100, 0).cast("int")
            ),
        )
        .withColumn(
            "ship_month",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast(
                "int"
            ),
        )
    )
    part = load(spark, sf_dir, "part")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("ship_month")
        .agg(
            # the sums carry 1e-4-dollar units (6.6e11 promo/month at
            # sf0.1): promo_pct's *100 pre-multiply plus the half-up's
            # 2e4 lift would wrap BIGINT near sf0.7 (round-7 ADVICE),
            # so both sums accumulate in DECIMAL(38,0) — DuckDB's
            # HUGEINT widening mirrored — and promo_pct rides the
            # 128-bit half-up end to end
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("rev_u"))
                .otherwise(F.lit(0))
                .cast("decimal(38,0)")
            ).alias("_promo"),
            F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_total"),
        )
        .select(
            "ship_month",
            halfup_wide_expr("_promo", "10000", 2).alias("promo_revenue"),
            halfup_wide_expr("_promo * 100", "_total", 4).alias("promo_pct"),
        )
        .orderBy("ship_month")
    )


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-filtered ANTI join: customers with NO order inside
    the dormancy window, counted per nation. The orders side prunes
    to the window at the scan (PushedFilters) and collapses to a
    DISTINCT custkey set before the anti join, so the join's build
    side is bounded by active customers, not order volume; nation is
    an explicit broadcast."""
    cust = load(spark, sf_dir, "customer")
    active = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(DORMANT_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(DORMANT_END).cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        cust.join(active, cust.c_custkey == active.o_custkey, "left_anti")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_dormant"))
        .orderBy("n_name")
    )


def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-scalar-subquery classic ('orders above this
    customer's own average'), rewritten as ONE window pass: per-key
    sum/count attach on a single shuffle, and the comparison runs as
    an integer cross-multiplication (price_c * n > sum_c) — exactly
    equivalent to price > avg but with no double mean for the engines
    to accumulate in different orders."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "price_c", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    w = Window.partitionBy("o_custkey")
    flagged = (
        orders.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_s", F.sum("price_c").over(w))
        .withColumn("_above", F.col("price_c") * F.col("_n") > F.col("_s"))
    )
    return (
        flagged.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("_above"), 1).otherwise(0)).alias(
                "n_above_own_avg"
            ),
            F.max("price_c").alias("_maxc"),
        )
        .select(
            "o_custkey",
            "n_orders",
            "n_above_own_avg",
            halfup_expr("_maxc", "100", 2).alias("max_order"),
        )
        .orderBy("o_custkey")
    )


def cube_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day) with explicit grouping
    flags — all four grouping sets (cell, two marginals, grand total)
    in ONE pass: Spark expands the cube BEFORE the partial aggregate,
    so the exchange still moves pre-aggregated rows. The value
    measure sums integer milli-units (exact under any partitioning);
    gid = grouping(event_type)*2 + grouping(hour), spelled explicitly
    so both engines agree on bit order by construction."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hour"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_m"),
    )
    return (
        ev.cube("event_type", "hour")
        .agg(
            # grouping() is only legal INSIDE the cube's aggregate list
            (F.grouping("event_type") * 2 + F.grouping("hour"))
            .cast("int")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_m").alias("sum_value_milli"),
        )
        .select(
            "gid", "event_type", "hour", "n_events", "sum_value_milli"
        )
        .orderBy(
            "gid",
            F.col("event_type").asc_nulls_first(),
            F.col("hour").asc_nulls_first(),
        )
    )


def tpch_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q13 shape: the AGGREGATE-OF-AGGREGATE — how many customers
    placed exactly k orders, INCLUDING the zero-order customers a
    plain inner join silently drops (left join + count of the
    nullable side). Two shuffles by construction: per-customer count,
    then the count-of-counts histogram; both partial-aggregate
    map-side. The second aggregate's key space is |distinct order
    counts| — tiny at any corpus scale."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def event_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-based inter-event gaps per user, profiled per event type:
    one window shuffle on user_id computes every gap (lead(ts) - ts
    in exact integer microseconds), one aggregate collapses to a
    |event_type|-row profile. The mean displays through pure-bigint
    half-up — gap sums are exact, so no accumulation-order risk."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # mean in exact integer MILLIseconds: micro sums overflowed the
    # half-up lift (sum_us * 2e4 > 2^63 once gaps span weeks across
    # 100k events); ms keeps ~4x headroom at sf0.1 and the floor
    # division is the same `div`/`//` op in both engines
    gaps = (
        ev.withColumn("_next", F.lead(F.unix_micros("ts")).over(w))
        .filter(F.col("_next").isNotNull())
        .withColumn("gap_us", F.col("_next") - F.unix_micros("ts"))
        .withColumn("gap_ms", F.expr("gap_us div 1000"))
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_ms").alias("_sum_ms"),
        )
        .select(
            "event_type",
            "n_gaps",
            "max_gap_us",
            halfup_expr("_sum_ms", "n_gaps * 1000", 4).alias("avg_gap_sec"),
        )
        .orderBy("event_type")
    )


def purchase_value_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of each purchase's value within its
    user's purchases — the remaining §2.6 ranking functions on ONE
    window shuffle. The (v_m, event_id) order is a UNIQUE total
    order, so percent_rank ≡ (rn-1)/(n-1) and cume_dist ≡ rn/n —
    identities a pytest pins against the real window functions on
    every fixture. The DISPLAYED ratios are computed from those
    integer components through the pure-bigint half-up (round-7
    ADVICE: round()-ing the window doubles reintroduces the exact
    Spark-vs-DuckDB divergence functions/exact.py documents).
    Bounded output: top-3 purchases per user by rank position."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    v_m = F.round(F.col("value") * 1000, 0).cast("long")
    w = Window.partitionBy("user_id").orderBy(F.col("v_m"), F.col("event_id"))
    ranked = (
        ev.withColumn("v_m", v_m)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    )
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        halfup_expr("rn - 1", "_n - 1", 6)
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .select(
            "user_id",
            F.col("rn").cast("int").alias("rn"),
            "event_id",
            "v_m",
            pct.alias("pct_rank"),
            halfup_expr("rn", "_n", 6).alias("cume_dist"),
        )
        .orderBy("user_id", "rn")
    )


#: trailing time-RANGE frame width for the rolling spend feature
ROLLING_WINDOW_US = 3600 * 1_000_000


def rolling_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (round 8): each purchase annotated
    with the same user's trailing-one-hour spend and purchase count —
    `RANGE BETWEEN <interval> PRECEDING AND CURRENT ROW` over the
    event-time axis, the frame class the suite's ROWS-frame windows
    (w4) didn't cover. The order key is exact integer microseconds,
    so the frame bounds are integer comparisons in both engines, and
    a RANGE frame includes ALL ties of the current timestamp — making
    the result order-insensitive by construction (no tiebreak column
    needed for correctness, only for the display sort). One window
    shuffle on user_id; values sum as exact milli-units."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    df = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v_m"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-ROLLING_WINDOW_US, 0)
    )
    return df.select(
        "user_id",
        "event_id",
        "t_us",
        "v_m",
        F.sum("v_m").over(w).alias("hour_spend_milli"),
        F.count(F.lit(1)).over(w).alias("n_hour_purchases"),
    ).orderBy("user_id", "t_us", "event_id")


def funnel_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (round 8) — the one join type the suite's
    matrix (inner/left/semi/anti/outer-stream) lacked: the daily view
    cohort against the daily purchase cohort on (user_id, day), then
    a presence-flag rollup — view-only days, purchase-only days, and
    converting days, with each side's volume. Both inputs
    pre-aggregate to (user, day) grain BEFORE the join, so the full
    outer moves cohort rows, not raw events, and both sides shuffle
    on the same compound key."""
    ev = load(spark, sf_dir, "events")
    day = F.to_date("ts").alias("d")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id").alias("v_user"), day)
        .agg(F.count(F.lit(1)).alias("n_views"))
        .withColumnRenamed("d", "v_d")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("b_user"), day)
        .agg(F.count(F.lit(1)).alias("n_buys"))
        .withColumnRenamed("d", "b_d")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user")) & (F.col("v_d") == F.col("b_d")),
        "full_outer",
    )
    return (
        joined.select(
            F.col("v_user").isNotNull().alias("viewed"),
            F.col("b_user").isNotNull().alias("bought"),
            F.coalesce("n_views", F.lit(0)).alias("_nv"),
            F.coalesce("n_buys", F.lit(0)).alias("_nb"),
        )
        .groupBy("viewed", "bought")
        .agg(
            F.count(F.lit(1)).alias("n_user_days"),
            F.sum("_nv").alias("n_views"),
            F.sum("_nb").alias("n_buys"),
        )
        .orderBy("viewed", "bought")
    )


#: SCD2 activity-tier thresholds (events/day): [0,3) low, [3,6) mid
SCD2_TIER_EDGES = (3, 6)


def scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 build (round 8) — the
    warehouse pattern none of the suite\'s shapes covered: collapse a
    per-(user, day) activity-tier observation stream into validity
    intervals. A new version opens exactly when the tier CHANGES
    from the user\'s previous observed day (unchanged days extend the
    open interval); `valid_to` is the next version\'s `valid_from`
    (half-open, gap-free by construction) and the last version is
    open-ended with `is_current`.

    One user-keyed window shuffle does everything: lag for the
    change flag, a running change-count for the version id, then a
    (user, version) aggregate and a lead for valid_to. Tiers are
    integer bucket indexes from integer daily counts — exact in any
    engine."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "tier",
            F.when(F.col("n") < SCD2_TIER_EDGES[0], F.lit(0))
            .when(F.col("n") < SCD2_TIER_EDGES[1], F.lit(1))
            .otherwise(F.lit(2))
            .cast("int"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    versioned = (
        daily.withColumn("_prev", F.lag("tier").over(w))
        .withColumn(
            "_chg",
            (
                F.col("_prev").isNull()
                | (F.col("tier") != F.col("_prev"))
            ).cast("int"),
        )
        .withColumn("version", F.sum("_chg").over(w).cast("int"))
    )
    spans = versioned.groupBy("user_id", "version").agg(
        F.min("d").alias("valid_from"),
        F.max("tier").alias("tier"),  # constant within the version
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_days_observed"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        spans.withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "user_id",
            "version",
            "tier",
            "valid_from",
            "valid_to",
            "is_current",
            "n_events",
            "n_days_observed",
        )
        .orderBy("user_id", "version")
    )


def nation_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of the suite's pivot shape
    (kpi.pivot_hour_by_type): a wide per-nation metrics frame
    (customer count, supplier count, account-balance cents) melted
    to (nation, metric, value) long form via DataFrame.unpivot,
    which plans as a single Expand over the aggregated frame — no
    join, no second scan, and the melt happens AFTER the rollup so
    Expand multiplies nation-count rows, never the corpus. All
    three measures are exact bigints (cents for the balances), so
    the long `value` column needs no type coercion compromise."""
    cust = load(spark, sf_dir, "customer").withColumn(
        "bal_c", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    )
    nat = F.broadcast(
        load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    per_nation_c = (
        cust.join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_c").alias("acctbal_cents"),
        )
    )
    per_nation_s = (
        load(spark, sf_dir, "supplier")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    wide = per_nation_c.join(per_nation_s, "n_name", "left").fillna(
        {"n_suppliers": 0}
    )
    return (
        wide.unpivot(
            ["n_name"],
            ["n_customers", "n_suppliers", "acctbal_cents"],
            "metric",
            "value",
        )
        .orderBy("n_name", "metric")
    )


QUERIES = {
    "event_gap_profile": event_gap_profile,
    "purchase_value_rank": purchase_value_rank,
    "nation_metrics_unpivot": nation_metrics_unpivot,
    "tpch_promo_revenue": tpch_promo_revenue,
    "dormant_customers": dormant_customers,
    "above_avg_orders": above_avg_orders,
    "cube_type_hour": cube_type_hour,
    "tpch_customer_distribution": tpch_customer_distribution,
    "rolling_user_spend": rolling_user_spend,
    "funnel_reconciliation": funnel_reconciliation,
    "scd2_user_tiers": scd2_user_tiers,
}


ORACLES = {
    "event_gap_profile": f"""
        WITH g AS (
            SELECT event_type,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                     - epoch_us(ts) AS gap_us
            FROM events
        ),
        a AS (
            SELECT event_type, count(*) AS n_gaps,
                   CAST(max(gap_us) AS BIGINT) AS max_gap_us,
                   CAST(sum(gap_us // 1000) AS BIGINT) AS s_ms
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n_gaps, max_gap_us,
               {halfup_duck('s_ms', 'n_gaps * 1000', 4)} AS avg_gap_sec
        FROM a ORDER BY event_type
    """,
    "purchase_value_rank": f"""
        WITH p AS (
            SELECT user_id, event_id,
                   CAST(round(value * 1000) AS BIGINT) AS v_m
            FROM events WHERE event_type = 'purchase'
        ),
        r AS (
            SELECT user_id, event_id, v_m,
                   row_number() OVER w AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM p
            WINDOW w AS (PARTITION BY user_id ORDER BY v_m, event_id)
        )
        SELECT user_id, CAST(rn AS INT) AS rn, event_id, v_m,
               CASE WHEN n = 1 THEN CAST(0 AS DOUBLE)
                    ELSE {halfup_duck('rn - 1', 'n - 1', 6)} END AS pct_rank,
               {halfup_duck('rn', 'n', 6)} AS cume_dist
        FROM r WHERE rn <= 3
        ORDER BY user_id, rn
    """,
    "tpch_promo_revenue": f"""
        -- promo_pct: 128-bit half-up (HUGEINT), see the Spark twin
        WITH li AS (
            SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
                       AS ship_month,
                   p_type,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS INT)) AS rev_u
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '{PROMO_START}'
              AND l_shipdate < TIMESTAMP '{PROMO_END}'
        ),
        g AS (
            -- sums stay HUGEINT (DuckDB's native widening) to mirror
            -- the Spark twin's DECIMAL(38,0) accumulators
            SELECT ship_month,
                   sum(CASE WHEN p_type = 'PROMO' THEN rev_u
                            ELSE 0 END) AS promo,
                   sum(rev_u) AS total
            FROM li GROUP BY ship_month
        )
        SELECT ship_month,
               {halfup_ratio_wide_sql('promo', '10000', 2,
                                      engine='duck')} AS promo_revenue,
               {halfup_ratio_wide_sql('promo * 100', 'total', 4,
                                      engine='duck')} AS promo_pct
        FROM g ORDER BY ship_month
    """,
    "dormant_customers": f"""
        SELECT n_name, count(*) AS n_dormant
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '{DORMANT_START}'
              AND o_orderdate < TIMESTAMP '{DORMANT_END}'
        )
        GROUP BY n_name ORDER BY n_name
    """,
    "above_avg_orders": f"""
        WITH o AS (
            SELECT o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
            FROM orders
        ),
        g AS (
            SELECT o_custkey, count(*) AS n_orders,
                   CAST(sum(price_c) AS BIGINT) AS s,
                   CAST(max(price_c) AS BIGINT) AS maxc
            FROM o GROUP BY o_custkey
        ),
        a AS (
            SELECT o.o_custkey,
                   CAST(sum(CASE WHEN o.price_c * g.n_orders > g.s
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
            FROM o JOIN g USING (o_custkey)
            GROUP BY o.o_custkey
        )
        SELECT g.o_custkey, g.n_orders,
               a.n_above AS n_above_own_avg,
               {halfup_duck('g.maxc', '100', 2)} AS max_order
        FROM g JOIN a USING (o_custkey)
        ORDER BY o_custkey
    """,
    "tpch_customer_distribution": """
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "cube_type_hour": """
        SELECT CAST(GROUPING(event_type) * 2 + GROUPING(hr) AS INT)
                   AS gid,
               event_type,
               hr AS hour,
               count(*) AS n_events,
               CAST(sum(v_m) AS BIGINT) AS sum_value_milli
        FROM (
            SELECT event_type,
                   CAST(hour(ts) AS INT) AS hr,
                   CAST(round(value * 1000) AS BIGINT) AS v_m
            FROM events
        )
        GROUP BY CUBE (event_type, hr)
        ORDER BY gid, event_type NULLS FIRST, hour NULLS FIRST
    """,
}


ORACLES["rolling_user_spend"] = f"""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               CAST(round(value * 1000) AS BIGINT) AS v_m
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, t_us, v_m,
           CAST(sum(v_m) OVER w AS BIGINT) AS hour_spend_milli,
           count(*) OVER w AS n_hour_purchases
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN {ROLLING_WINDOW_US} PRECEDING
                           AND CURRENT ROW)
    ORDER BY user_id, t_us, event_id
"""

ORACLES["funnel_reconciliation"] = """
    WITH v AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_views
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_buys
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT v.user_id IS NOT NULL AS viewed,
           b.user_id IS NOT NULL AS bought,
           count(*) AS n_user_days,
           CAST(sum(coalesce(n_views, 0)) AS BIGINT) AS n_views,
           CAST(sum(coalesce(n_buys, 0)) AS BIGINT) AS n_buys
    FROM v FULL OUTER JOIN b
      ON v.user_id = b.user_id AND v.d = b.d
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


ORACLES["scd2_user_tiers"] = f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n,
               CAST(CASE WHEN count(*) < {SCD2_TIER_EDGES[0]} THEN 0
                         WHEN count(*) < {SCD2_TIER_EDGES[1]} THEN 1
                         ELSE 2 END AS INT) AS tier
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(tier) OVER w IS NULL
                         OR tier <> lag(tier) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    versioned AS (
        SELECT *, CAST(sum(chg) OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS version
        FROM flagged
    ),
    spans AS (
        SELECT user_id, version,
               min(d) AS valid_from,
               CAST(max(tier) AS INT) AS tier,
               CAST(sum(n) AS BIGINT) AS n_events,
               count(*) AS n_days_observed
        FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, version, tier, valid_from,
           lead(valid_from) OVER wv AS valid_to,
           lead(valid_from) OVER wv IS NULL AS is_current,
           n_events, n_days_observed
    FROM spans
    WINDOW wv AS (PARTITION BY user_id ORDER BY version)
    ORDER BY user_id, version
"""

ORACLES["nation_metrics_unpivot"] = """
    WITH wide AS (
        SELECT n_name,
               count(*) AS n_customers,
               coalesce((SELECT count(*) FROM supplier s
                         WHERE s.s_nationkey = n.n_nationkey), 0)
                   AS n_suppliers,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                    AS BIGINT) AS acctbal_cents
        FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        GROUP BY n_name, n_nationkey
    )
    SELECT n_name, metric, value FROM (
        SELECT n_name, 'n_customers' AS metric,
               CAST(n_customers AS BIGINT) AS value FROM wide
        UNION ALL
        SELECT n_name, 'n_suppliers', CAST(n_suppliers AS BIGINT)
        FROM wide
        UNION ALL
        SELECT n_name, 'acctbal_cents', acctbal_cents FROM wide
    )
    ORDER BY n_name, metric
"""


def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: line count,
    half-up mean days, EXACT median days, and max — the operations
    question ("does URGENT actually ship faster?") the TPC-H suite's
    revenue views never ask.

    EXACT medians, distributively (the robust_outliers discipline):
    the shuffled state is the (priority, days) HISTOGRAM — latency
    in whole days is domain-bounded (the testdata's date span;
    negative gaps occur because the synthetic ship dates are not
    constrained to follow the order date, so the mean rides the
    SIGNED half-up),
    so a reducer holds a few hundred integers per priority at ANY
    corpus size; both middle order statistics come from cumulative
    counts with pure-integer ceil-ranks, and the doubled median
    m = lo + hi stays an integer (displayed as m/2 via one exact
    divide). The orders join is the co-partitioned big-big equi
    join on the order key (both sides shuffle once on it).
    """
    from pyspark.sql import Window

    days = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .join(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("l_shipdate", "o_orderdate").alias("d"),
        )
    )
    hist = days.groupBy("priority", "d").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("priority").orderBy("d")
    c = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("priority"))
    )
    med = c.groupBy("priority").agg(
        (
            F.min(F.when(F.expr("cum >= (n + 1) div 2"), F.col("d")))
            + F.min(F.when(F.expr("cum >= n div 2 + 1"), F.col("d")))
        ).alias("m2"),
        F.max("n").alias("n_lines"),
    )
    sums = hist.groupBy("priority").agg(
        F.sum(F.expr("d * cnt")).alias("sum_d"),
        F.max("d").cast("long").alias("max_days"),
    )
    return (
        med.join(sums, "priority")
        .selectExpr(
            "priority",
            "n_lines",
            _hd2("sum_d", "n_lines") + " AS mean_days",
            "CAST(m2 AS DOUBLE) / CAST(2 AS DOUBLE) AS median_days",
            "max_days",
        )
        .orderBy("priority")
    )


def _hd2(num: str, den: str) -> str:
    # SIGNED: the synthetic lineitem ship dates are not constrained
    # to follow the order date, so per-priority day sums can be
    # negative — the unsigned form both misrounds negatives and
    # splits the engines (truncate vs floor)
    from ..functions.exact import halfup_signed_ratio_sql

    return halfup_signed_ratio_sql(num, den, 2, "spark")


QUERIES["fulfillment_latency"] = fulfillment_latency


def _fulfillment_oracle() -> str:
    from ..functions.exact import halfup_signed_ratio_sql

    mean = halfup_signed_ratio_sql("sum_d", "n_lines", 2, "duck")
    return f"""
        WITH days AS (
            SELECT o.o_orderpriority AS priority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS d
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        hist AS (
            SELECT priority, d, count(*) AS cnt
            FROM days GROUP BY 1, 2
        ),
        c AS (
            SELECT *,
                   CAST(sum(cnt) OVER (PARTITION BY priority
                       ORDER BY d) AS BIGINT) AS cum,
                   CAST(sum(cnt) OVER (PARTITION BY priority)
                       AS BIGINT) AS n
            FROM hist
        ),
        med AS (
            SELECT priority,
                   min(CASE WHEN cum >= (n + 1) // 2 THEN d END)
                   + min(CASE WHEN cum >= n // 2 + 1 THEN d END)
                       AS m2,
                   max(n) AS n_lines
            FROM c GROUP BY priority
        ),
        sums AS (
            SELECT priority,
                   CAST(sum(d * cnt) AS BIGINT) AS sum_d,
                   CAST(max(d) AS BIGINT) AS max_days
            FROM hist GROUP BY priority
        )
        SELECT priority, n_lines,
               {mean} AS mean_days,
               CAST(m2 AS DOUBLE) / CAST(2 AS DOUBLE) AS median_days,
               max_days
        FROM med JOIN sums USING (priority)
        ORDER BY priority
    """


ORACLES["fulfillment_latency"] = _fulfillment_oracle()


def basket_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-shape profile: the distribution of lineitems per order
    — per basket size, order count and share, plus the running
    cumulative share — the "how big is a typical order" histogram a
    fulfillment planner reads before batching decisions.

    Scale shape: one map-side-combinable count per orderkey, then a
    second aggregate onto the SIZE DOMAIN (bounded single digits in
    TPC-H-shaped data — the histogram trick again: downstream state
    is domain-sized, not order-sized). Shares are exact half-ups;
    the cumulative runs over the bounded histogram.
    """
    from pyspark.sql import Window

    from ..functions.exact import halfup_ratio_sql

    per_order = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    hist = per_order.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = (
        Window.orderBy("sz")
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # bounded: one row per distinct basket size
    tot = Window.partitionBy()
    return (
        hist.withColumn("cum", F.sum("n_orders").over(w))
        .withColumn("t", F.sum("n_orders").over(tot))
        .selectExpr(
            "sz AS basket_size",
            "n_orders",
            halfup_ratio_sql("100 * n_orders", "t", 4, "spark")
            + " AS share_pct",
            halfup_ratio_sql("100 * cum", "t", 4, "spark")
            + " AS cum_share_pct",
        )
        .orderBy("basket_size")
    )


QUERIES["basket_size_profile"] = basket_size_profile


def _basket_oracle() -> str:
    from ..functions.exact import halfup_ratio_sql

    return f"""
        WITH per_order AS (
            SELECT l_orderkey, count(*) AS sz
            FROM lineitem GROUP BY 1
        ),
        hist AS (
            SELECT sz, count(*) AS n_orders FROM per_order GROUP BY 1
        ),
        c AS (
            SELECT *,
                   CAST(sum(n_orders) OVER (ORDER BY sz
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(sum(n_orders) OVER () AS BIGINT) AS t
            FROM hist
        )
        SELECT sz AS basket_size, n_orders,
               {halfup_ratio_sql('100 * n_orders', 't', 4, 'duck')}
                   AS share_pct,
               {halfup_ratio_sql('100 * cum', 't', 4, 'duck')}
                   AS cum_share_pct
        FROM c
        ORDER BY basket_size
    """


ORACLES["basket_size_profile"] = _basket_oracle()


#: Pareto coverage threshold: the smallest top-revenue customer set
#: covering >= PARETO_PCT of the nation's revenue
PARETO_PCT = 80


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue CONCENTRATION (the 80/20 audit): how many
    top customers does it take to cover 80 % of each nation's
    lineitem revenue, and what share of the customer base is that?
    The classic whale-dependence metric a marketplace watches per
    region.

    Exactness: revenue rides the integer rev_u unit (cents x
    percent); the "covers 80 %" cut is the integer cross-product
    5*(cum - rev) < 4*total (a customer is needed iff the revenue
    BEFORE it is still under the threshold), so no double ever
    decides membership. Covered-share displays through the 128-bit
    half-up (100*covered*2e4 exceeds BIGINT at warehouse scale).

    Scale shape: fact scan -> orderkey join (AQE-sized) -> one
    customer-keyed aggregate; the cumulative window partitions by
    NATION over CUSTOMER-level rows (bounded groups per nation,
    uniform shuffle), never a global total order. Nation totals ride
    a second tiny aggregate joined back by nation key.
    """
    li = load(spark, sf_dir, "lineitem").withColumn(
        "rev_u",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("int")),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_u").alias("rev"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey", "rev")
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("rev"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cum/tot accumulate customer revenues per nation: DECIMAL(38,0)
    # — a nation's revenue total wraps BIGINT around sf20k, the same
    # wall the Q1 sum_charge widening documents
    cum = per_cust.withColumn(
        "cum", F.sum(F.col("rev").cast("decimal(38,0)")).over(w)
    )
    tot = per_cust.groupBy("n_name").agg(
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("tot"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    # a customer is needed iff the revenue BEFORE it still sits
    # under the threshold: 5*(cum - rev) < 4*tot  <=>
    # (cum - rev) < PARETO_PCT% * tot, all in 128-bit integers
    top = cum.join(tot, "n_name").filter(
        F.lit(100 - PARETO_PCT) * (F.col("cum") - F.col("rev"))
        * F.lit(5)
        < F.lit(PARETO_PCT) * F.col("tot")
    )
    needed = top.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("covered"),
        F.max("n_customers").alias("n_customers"),
        F.max("tot").alias("tot"),
    )
    return needed.select(
        F.col("n_name").alias("nation"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("n_top").cast("bigint").alias("n_top80"),
        halfup_expr("100 * n_top", "n_customers", 4).alias("top80_cust_pct"),
        halfup_wide_expr("100 * covered", "tot", 4).alias(
            "covered_rev_pct"
        ),
    ).orderBy("nation")


QUERIES["revenue_pareto"] = revenue_pareto


def _pareto_oracle() -> str:
    return f"""
        WITH per_cust AS (
            SELECT n.n_name, c.c_custkey,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS INT)))
                       AS rev
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name, c.c_custkey
        ),
        cum AS (
            SELECT n_name, c_custkey, CAST(rev AS BIGINT) AS rev,
                   CAST(sum(rev) OVER (PARTITION BY n_name
                       ORDER BY rev DESC, c_custkey
                       ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum,
                   CAST(sum(rev) OVER (PARTITION BY n_name)
                       AS HUGEINT) AS tot,
                   CAST(count(*) OVER (PARTITION BY n_name)
                       AS BIGINT) AS n_customers
            FROM per_cust
        ),
        top AS (
            SELECT * FROM cum
            WHERE 5 * (cum - rev) < 4 * tot
        )
        SELECT n_name AS nation,
               CAST(max(n_customers) AS BIGINT) AS n_customers,
               CAST(count(*) AS BIGINT) AS n_top80,
               {halfup_ratio_sql('100 * count(*)', 'max(n_customers)',
                                 4, 'duck')} AS top80_cust_pct,
               {halfup_ratio_wide_sql('100 * CAST(sum(rev) AS HUGEINT)',
                                      'max(tot)', 4, 'duck')}
                   AS covered_rev_pct
        FROM top
        GROUP BY n_name
        ORDER BY nation
    """


ORACLES["revenue_pareto"] = _pareto_oracle()
