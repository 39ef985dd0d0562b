"""The seven TPC-H shapes that complete the 22-query suite
(Q2/Q6/Q8/Q9/Q15/Q20/Q21 — public TPC-H specification), adapted to
the fixture schema the way `tpch.py` adapted Q11/Q16: the fixtures
carry no `partsupp` table, no commit/receipt dates, and no order
comments, so supply cost, availability, and lateness are derived
from `lineitem` itself, with the *plan shape* of each original
preserved (that is what this suite exists to exercise — the
reference's single-hop joins, sql/queries.sql:16-59, never reach
these classes).

Adaptation contract (documented per query):

* supply cost (Q2/Q9)  → floor unit price `price_c div qty` per
  (part, supplier) pair — an exact bigint both engines compute
  identically (`div` / `//`), unlike a double average.
* availability (Q20)   → a pair's 1997 quantity vs its lifetime
  quantity, compared by integer cross-multiplication.
* waiting orders (Q21) → the lexicographically-latest shipper of a
  multi-supplier finished order, via max-shipdate windows.

Join strategy at 100 TB mirrors `tpch.py`: nation/region always
broadcast explicitly; supplier/part sized by AQE; the fact-fact
orders⋈lineitem joins shuffle on orderkey (bucketing turns them
into zero-exchange SMJ in a real warehouse). Every window variant
here partitions by a key the frame was already shuffled on, so the
window passes add sorts, not exchanges.

Money math is the exact-integer discipline of `functions/exact.py`:
no double is ever rounded; ratios that can wrap a bigint under the
2·10^d lift ride the 128-bit wide forms (Q6's discount-revenue sum
carries a 10^4 unit scale; Q8's shares divide corpus-scale unit
sums; Q9's profit is sign-split first — `div` truncates toward
zero, so the half-up form is applied to |sum| and the sign
re-attached, identically in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    halfup_duck,
    halfup_expr,
    halfup_ratio_wide_sql,
    halfup_wide_expr,
)
from ..sources.catalog import load


def _signed_halfup_wide_sql(num: str, den: str, digits: int,
                            engine: str) -> str:
    """Sign-split display: half-up |num|/den with the sign
    re-attached. The truncating integer divisions both engines use
    are asymmetric around zero, so the positive-operand contract of
    the wide form is enforced by construction."""
    pos = halfup_ratio_wide_sql(num, den, digits, engine=engine)
    neg = halfup_ratio_wide_sql(f"-({num})", den, digits, engine=engine)
    return f"CASE WHEN ({num}) < 0 THEN -({neg}) ELSE ({pos}) END"


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


def _pct(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("int")


def _qty() -> F.Column:
    """Quantities are integral on the fixtures (pinned in
    tests/test_tpch_close.py)."""
    return F.round(F.col("l_quantity"), 0).cast("long")


def _li_money(li: DataFrame) -> DataFrame:
    return li.withColumns(
        {
            "price_c": _cents("l_extendedprice"),
            "disc_p": _pct("l_discount"),
            "qty": _qty(),
            "rev_u": _cents("l_extendedprice")
            * (F.lit(100) - _pct("l_discount")),
        }
    )


# ---------------------------------------------------------------- Q6

#: one ship-year, a discount band (percent units), a quantity cap
Q6_START, Q6_END = "1997-01-01", "1998-01-01"
Q6_DISC_LO, Q6_DISC_HI = 4, 6
Q6_MAX_QTY = 24


def tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: the pure scan-aggregate — revenue that WOULD have
    been kept had discounts in a band been dropped. No join at all:
    the ship-date window, discount band, and quantity cap all reach
    the parquet scan as pushed filters (plan-pinned) because they
    predicate the RAW columns — the band bounds ({Q6_DISC_LO}.5 and
    {Q6_DISC_HI}.5 percent) sit strictly between the 2-decimal
    domain values, so the double comparison selects exactly the
    integer band in both engines and row-group stats still prune.
    The money math itself stays integral: revenue units are
    cents·percent (price_c · disc_p, a 10^4 scale), so the display
    ratio rides the 128-bit wide half-up — the 2·10^2 lift over a
    corpus-scale sum of 10^4-unit values is exactly the bigint-wrap
    class the round-7 ADVICE flagged on sum_charge."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    kept = li.filter(
        (F.col("l_shipdate") >= _ts(Q6_START))
        & (F.col("l_shipdate") < _ts(Q6_END))
        & (F.col("l_discount") > (Q6_DISC_LO - 0.5) / 100.0)
        & (F.col("l_discount") < (Q6_DISC_HI + 0.5) / 100.0)
        & (F.col("l_quantity") < float(Q6_MAX_QTY))
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("price_c") * F.col("disc_p")).alias("_du"),
    ).select(
        "n_lines",
        halfup_wide_expr("_du", "10000", 2).alias("forecast_revenue"),
    )


# ---------------------------------------------------------------- Q2

Q2_REGION = "EUROPE"
Q2_TYPE = "LARGE"
Q2_SIZE_LO, Q2_SIZE_HI = 10, 25


def tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: minimum-cost supplier per part within a region —
    the correlated-MIN subquery class. Supply cost (no partsupp on
    these fixtures) is the pair's floor unit price
    `min(price_c div qty)`, an exact bigint. The correlated
    `cost = (SELECT min(cost) ... WHERE same part, region)` rewrites
    to a window MIN over p_partkey on the already-joined frame —
    ONE p_partkey exchange of the pair ROLLUP (part-sized, not
    line-sized: the size/type cut reaches the part scan pushed, and
    the region cut lands before the window so only regional pairs
    shuffle) instead of the self-join-plus-reaggregate a literal
    translation would run. nation/region broadcast explicitly."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == Q2_TYPE)
        & F.col("p_size").between(Q2_SIZE_LO, Q2_SIZE_HI)
    )
    nat = F.broadcast(
        load(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(
                    F.col("r_name") == Q2_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = load(spark, sf_dir, "supplier").join(
        nat, F.col("s_nationkey") == F.col("n_nationkey")
    )
    pair_cost = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("unit_c", F.expr("price_c div qty"))
        .groupBy("p_partkey", "p_size", "l_suppkey")
        .agg(F.min("unit_c").alias("cost_c"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        pair_cost.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("_min_c", F.min("cost_c").over(w))
        .filter(F.col("cost_c") == F.col("_min_c"))
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("p_partkey"),
            F.col("p_size"),
            halfup_expr("cost_c", "100", 2).alias("supply_cost"),
        )
        .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- Q8

Q8_REGION = "AMERICA"
Q8_NATION = "NATION_11"  # inside AMERICA on the fixtures
Q8_TYPE = "ECONOMY"


def tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's market for a part
    type, by order year — the conditional-ratio-of-sums class. Both
    the numerator (share nation's revenue) and denominator (all
    revenue) ride ONE partial aggregate via a CASE; the share
    divides two corpus-scale unit sums through the 128-bit half-up
    (the 2·10^4 display lift over a region-year revenue sum wraps
    bigint near sf10 otherwise). Customer nation gates region
    membership; supplier nation provides the share flag — the two
    roles of `nation` broadcast independently."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    nat = load(spark, sf_dir, "nation")
    cust_nat = F.broadcast(
        nat.join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(
                    F.col("r_name") == Q8_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nat = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    cust = load(spark, sf_dir, "customer").join(
        cust_nat, F.col("c_nationkey") == F.col("cn_key")
    )
    supp = load(spark, sf_dir, "supplier").join(
        supp_nat, F.col("s_nationkey") == F.col("sn_key")
    )
    share = F.when(
        F.col("supp_nation") == Q8_NATION, F.col("rev_u")
    ).otherwise(F.lit(0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(load(spark, sf_dir, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.sum(share).alias("_nat_u"),
            F.sum("rev_u").alias("_all_u"),
        )
        .select(
            "o_year",
            halfup_wide_expr("_all_u", "10000", 2).alias("total_revenue"),
            halfup_wide_expr("_nat_u * 100", "_all_u", 4).alias(
                "mkt_share_pct"
            ),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------- Q9

Q9_TYPE = "PROMO"


def tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation and order year for one
    part type. Supply cost (no partsupp) is the part's retail price
    per unit, so profit_u = rev_u − retail_c·100·qty — both terms in
    the same cents·percent unit, summed in bigint. Profit CAN be
    negative (discount-heavy lines under a high-retail part), so the
    display is the sign-split 128-bit half-up — `div`/`//` truncate
    toward zero and would round negatives toward zero one ulp apart
    otherwise. Five-way star: part filtered+AQE-sized, nation
    broadcast, orders⋈lineitem shuffled on orderkey."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    part = load(spark, sf_dir, "part").filter(
        F.col("p_type") == Q9_TYPE
    ).withColumn("retail_c", _cents("p_retailprice"))
    supp_nat = F.broadcast(
        load(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), "n_name"
        )
    )
    supp = load(spark, sf_dir, "supplier").join(
        supp_nat, F.col("s_nationkey") == F.col("sn_key")
    )
    profit_u = F.col("rev_u") - F.col("retail_c") * 100 * F.col("qty")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(load(spark, sf_dir, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("n_name", "o_year")
        .agg(F.sum(profit_u).alias("_pu"))
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            F.expr(
                _signed_halfup_wide_sql("_pu", "10000", 2, "spark")
            ).alias("profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------- Q15

Q15_START, Q15_END = "1996-01-01", "1996-04-01"


def tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) with maximum quarterly revenue —
    the view-plus-scalar-max class. The per-supplier rollup is
    localCheckpoint'd because BOTH consumers (the 1-row max and the
    equality filter) would otherwise each re-derive the whole
    scan+partial-agg subtree (same discipline as Q11's rollup,
    tpch.py). The max comparison happens on the exact integer
    rev_u sum — ties (possible: integer sums) are all kept, as in
    the original."""
    li = _li_money(load(spark, sf_dir, "lineitem")).filter(
        (F.col("l_shipdate") >= _ts(Q15_START))
        & (F.col("l_shipdate") < _ts(Q15_END))
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum("rev_u").alias("_ru"))
        .localCheckpoint(eager=False)
    )
    top = per_supp.agg(F.max("_ru").alias("_max_ru"))
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("_ru") == F.col("_max_ru"))
        .join(
            load(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey"),
            "s_name",
            halfup_expr("_ru", "10000", 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------- Q20

Q20_YEAR = 1997
Q20_REGION = "ASIA"
Q20_TYPE = "PROMO"


def tpch_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers with surplus exposure to a part type —
    the chained-semi-join class. Availability (no partsupp) is
    re-expressed on shipments: a (part, supplier) pair is SURGING
    when its {Q20_YEAR} quantity exceeds half its lifetime quantity
    (integer cross-multiplication, no doubles); a supplier qualifies
    when ANY of its {Q20_TYPE} parts surged (left-semi — a supplier
    with five surging parts lists once), and the final cut is the
    region membership via broadcast nation⋈region. Both conditional
    sums ride one partial aggregate over the pair rollup."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    promo = load(spark, sf_dir, "part").filter(
        F.col("p_type") == Q20_TYPE
    ).select("p_partkey")
    in_year = F.year("l_shipdate") == Q20_YEAR
    pairs = (
        li.join(promo, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_year, F.col("qty")).otherwise(0)).alias(
                "q_year"
            ),
            F.sum("qty").alias("q_all"),
        )
        .filter(
            (F.col("q_year") > 0)
            & (F.col("q_year") * 2 > F.col("q_all"))
        )
        .select("l_suppkey")
        .distinct()
    )
    nat = F.broadcast(
        load(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(
                    F.col("r_name") == Q20_REGION
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        load(spark, sf_dir, "supplier")
        .join(pairs, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("s_name", "s_suppkey")
    )


# --------------------------------------------------------------- Q21

Q21_STATUS = "F"
Q21_TOP = 100


def tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the supplier who held up each multi-supplier
    finished order — the EXISTS/NOT-EXISTS double-correlation class.
    With no receipt/commit dates, "held up" is re-expressed on ship
    dates: on each {Q21_STATUS}-status order involving ≥2 suppliers,
    the supplier whose latest line shipped STRICTLY last (EXISTS
    another supplier ∧ NOT EXISTS another supplier shipping as
    late). Both correlations become windows over l_orderkey on the
    (order, supplier) rollup. At scale the fact-fact semi join is an
    orderkey SortMergeJoin whose exchange the rollup reuses
    (HashPartitioning(orderkey) satisfies the (orderkey, suppkey)
    clustered distribution) and whose output partitioning both
    windows then ride — one exchange end-to-end; locally AQE
    broadcasts the finished-order list instead. The unique-max test
    is `count(pair_max == order_max) == 1`, all on exact
    timestamps."""
    fin = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == Q21_STATUS
    ).select("o_orderkey")
    pair_max = (
        load(spark, sf_dir, "lineitem")
        .join(fin, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("pair_ship"))
    )
    w = Window.partitionBy("l_orderkey")
    winners = (
        pair_max.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("order_ship", F.max("pair_ship").over(w))
        .filter(F.col("n_supp") >= 2)
        .withColumn(
            "n_at_max",
            F.count(
                F.when(F.col("pair_ship") == F.col("order_ship"), 1)
            ).over(w),
        )
        .filter(
            (F.col("pair_ship") == F.col("order_ship"))
            & (F.col("n_at_max") == 1)
        )
    )
    return (
        winners.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            load(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOP)
    )


QUERIES = {
    "tpch_forecast_revenue": tpch_forecast_revenue,
    "tpch_min_cost_supplier": tpch_min_cost_supplier,
    "tpch_market_share": tpch_market_share,
    "tpch_product_profit": tpch_product_profit,
    "tpch_top_supplier": tpch_top_supplier,
    "tpch_part_promotion": tpch_part_promotion,
    "tpch_waiting_suppliers": tpch_waiting_suppliers,
}


_LI_MONEY = """
    SELECT l.*,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS INT) AS disc_p,
           CAST(round(l_quantity) AS BIGINT) AS qty,
           CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS INT)) AS rev_u
    FROM lineitem l
"""


def _hw(num: str, den: str, digits: int) -> str:
    return halfup_ratio_wide_sql(num, den, digits, engine="duck")


ORACLES = {
    "tpch_forecast_revenue": f"""
        WITH li AS ({_LI_MONEY})
        SELECT count(*) AS n_lines,
               {_hw("CAST(sum(price_c * disc_p) AS BIGINT)",
                    "10000", 2)} AS forecast_revenue
        FROM li
        WHERE l_shipdate >= TIMESTAMP '{Q6_START}'
          AND l_shipdate < TIMESTAMP '{Q6_END}'
          AND l_discount > CAST({(Q6_DISC_LO - 0.5) / 100.0} AS DOUBLE)
          AND l_discount < CAST({(Q6_DISC_HI + 0.5) / 100.0} AS DOUBLE)
          AND l_quantity < CAST({float(Q6_MAX_QTY)} AS DOUBLE)
    """,
    "tpch_min_cost_supplier": f"""
        WITH li AS ({_LI_MONEY}),
        pair AS (
            SELECT p_partkey, p_size, l_suppkey,
                   CAST(min(price_c // qty) AS BIGINT) AS cost_c
            FROM li
            JOIN part ON l_partkey = p_partkey
            WHERE p_type = '{Q2_TYPE}'
              AND p_size BETWEEN {Q2_SIZE_LO} AND {Q2_SIZE_HI}
            GROUP BY 1, 2, 3
        ),
        j AS (
            SELECT pair.*, s_acctbal, s_name, n_name,
                   min(cost_c) OVER (PARTITION BY p_partkey) AS min_c
            FROM pair
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = '{Q2_REGION}'
        )
        SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
               p_partkey, p_size,
               {halfup_duck("cost_c", "100", 2)} AS supply_cost
        FROM j
        WHERE cost_c = min_c
        ORDER BY acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "tpch_market_share": f"""
        WITH li AS ({_LI_MONEY}),
        j AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   rev_u,
                   CASE WHEN sn.n_name = '{Q8_NATION}'
                        THEN rev_u ELSE 0 END AS nat_u
            FROM li
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE p_type = '{Q8_TYPE}' AND r_name = '{Q8_REGION}'
        )
        SELECT o_year,
               {_hw("CAST(sum(rev_u) AS BIGINT)", "10000", 2)}
                   AS total_revenue,
               {_hw("CAST(sum(nat_u) AS BIGINT) * 100",
                    "CAST(sum(rev_u) AS BIGINT)", 4)}
                   AS mkt_share_pct
        FROM j
        GROUP BY o_year
        ORDER BY o_year
    """,
    "tpch_product_profit": f"""
        WITH li AS ({_LI_MONEY}),
        j AS (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   rev_u - CAST(round(p_retailprice * 100) AS BIGINT)
                           * 100 * qty AS profit_u
            FROM li
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_type = '{Q9_TYPE}'
        ),
        g AS (
            SELECT nation, o_year,
                   CAST(sum(profit_u) AS BIGINT) AS pu
            FROM j GROUP BY 1, 2
        )
        SELECT nation, o_year,
               {_signed_halfup_wide_sql("pu", "10000", 2, "duck")}
                   AS profit
        FROM g
        ORDER BY nation, o_year DESC
    """,
    "tpch_top_supplier": f"""
        WITH li AS ({_LI_MONEY}),
        ps AS (
            SELECT l_suppkey, CAST(sum(rev_u) AS BIGINT) AS ru
            FROM li
            WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
              AND l_shipdate < TIMESTAMP '{Q15_END}'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name,
               {halfup_duck("ru", "10000", 2)} AS total_revenue
        FROM ps
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE ru = (SELECT max(ru) FROM ps)
        ORDER BY s_suppkey
    """,
    "tpch_part_promotion": f"""
        WITH li AS ({_LI_MONEY}),
        pair AS (
            SELECT l_partkey, l_suppkey,
                   CAST(sum(CASE WHEN year(l_shipdate) = {Q20_YEAR}
                                 THEN qty ELSE 0 END) AS BIGINT)
                       AS q_year,
                   CAST(sum(qty) AS BIGINT) AS q_all
            FROM li
            JOIN part ON l_partkey = p_partkey
            WHERE p_type = '{Q20_TYPE}'
            GROUP BY 1, 2
        ),
        surge AS (
            SELECT DISTINCT l_suppkey FROM pair
            WHERE q_year > 0 AND q_year * 2 > q_all
        )
        SELECT s_suppkey, s_name, n_name,
               round(s_acctbal, 2) AS acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{Q20_REGION}'
          AND EXISTS (SELECT 1 FROM surge
                      WHERE surge.l_suppkey = s_suppkey)
        ORDER BY s_name, s_suppkey
    """,
    "tpch_waiting_suppliers": f"""
        WITH pair AS (
            SELECT l_orderkey, l_suppkey,
                   max(l_shipdate) AS pair_ship
            FROM lineitem
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey
                            AND o_orderstatus = '{Q21_STATUS}')
            GROUP BY 1, 2
        ),
        win1 AS (
            SELECT l_orderkey, l_suppkey, pair_ship,
                   count(*) OVER w AS n_supp,
                   max(pair_ship) OVER w AS order_ship
            FROM pair
            WINDOW w AS (PARTITION BY l_orderkey)
        ),
        win AS (
            SELECT *,
                   CAST(sum(CASE WHEN pair_ship = order_ship
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY l_orderkey) AS BIGINT)
                       AS n_at_max
            FROM win1
        )
        SELECT s_name, count(*) AS numwait
        FROM win
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supp >= 2 AND pair_ship = order_ship AND n_at_max = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT {Q21_TOP}
    """,
}
