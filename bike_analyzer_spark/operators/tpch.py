"""Warehouse-grade star-join suite over the TPC-H-shaped testdata
(public TPC-H specification, queries Q1/Q3/Q5/Q10 shapes).

The reference's joins max out at one fact→dim hop
(sql/queries.sql:16-59); a production analytics engine also has to
run the classic multi-way star plans — chained dimension joins,
fact-fact shuffle joins, map-side partial aggregation over a
selective scan. This module adds those shapes over the
lineitem/orders/customer/supplier/nation/region testdata, which is
already TPC-H-ish (TESTDATA.md).

Join strategy at 100 TB:

* `region`/`nation` are constant-sized — ALWAYS broadcast
  (explicit `F.broadcast`, no reliance on autoBroadcast threshold).
* `supplier` and filtered `customer` grow with SF (10k/SF and
  ~30k/SF rows) — borderline at SF≥100, so sizing is left to AQE,
  which broadcasts them while they fit and shuffle-joins past that.
  Hard-coding broadcast here would OOM the driver at scale.
* `orders ⋈ lineitem` is the fact-fact join: both sides shuffle on
  orderkey (co-partitioned; in a real warehouse these two would be
  bucketed on orderkey — `sources/bucketing.py` — turning it into a
  zero-exchange SortMergeJoin).
* Every aggregation is declarative groupBy→agg, so Catalyst plants a
  partial hash aggregate before the exchange; the selective date /
  segment / flag predicates all reach the parquet scan as
  PushedFilters (asserted in tests/test_tpch.py).

Exact cross-engine money math: prices, discounts, taxes, and account
balances are 2-decimal and quantities are integral (verified on the
fixtures), so each factor is lifted to exact integers —
`round(x*100)` cents / percent — and every revenue sum happens in
bigint units: price_cents × (100−disc) [× (100+tax)]. The division
back to dollars is the pure-bigint half-up form
(functions/exact.halfup_ratio_sql), never `round()` on a double: the
integer sums CAN land exactly on a .5 rounding boundary (sum(rev_u)
≡ 50 mod 100, or 2^a·5^b counts for the averages), where Spark's
shortest-repr HALF_UP and DuckDB's raw-double round diverge — the
same boundary class functions/exact.py eliminates in kpi/windows/
hypertable (round-7 ADVICE). DuckDB sums of BIGINT widen to HUGEINT,
so oracle SQL casts each sum back to BIGINT before the halfup math —
keeping both engines' output schemas identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import (
    halfup_duck,
    halfup_expr,
    halfup_ratio_wide_sql,
    halfup_wide_expr,
)
from ..sources.catalog import load


#: Q1 scan cutoff (data spans 1995-01-02 .. 2001-11-04)
Q1_CUTOFF = "2000-12-31"
#: Q3 split date: orders placed before, lineitems shipped after
Q3_DATE = "1999-03-15"
Q3_SEGMENT = "BUILDING"
#: Q5 one-year order window + region
Q5_START, Q5_END = "1996-01-01", "1997-01-01"
Q5_REGION = "ASIA"
#: Q10 one-quarter order window
Q10_START, Q10_END = "1998-10-01", "1999-01-01"
#: Q18 large-volume cutoff: total order quantity above this lands the
#: order on the audit list (46 orders at sf0.01, 473 at sf0.1 —
#: selective but non-degenerate at every test SF)
Q18_MIN_QTY = 300
#: Q7 trading-nation pair (testdata nations are NATION_0..24)
Q7_NATION_A, Q7_NATION_B = "NATION_3", "NATION_7"


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


def _cents(col: str) -> F.Column:
    """2-decimal dollars → exact integer cents."""
    return F.round(F.col(col) * 100, 0).cast("long")


def _pct(col: str) -> F.Column:
    """2-decimal rate → exact integer percent."""
    return F.round(F.col(col) * 100, 0).cast("int")


#: lineitem with the exact-integer money columns attached
def _li_money(li: DataFrame) -> DataFrame:
    return li.withColumns(
        {
            "price_c": _cents("l_extendedprice"),
            "disc_p": _pct("l_discount"),
            "tax_p": _pct("l_tax"),
            # cents·percent units; /10000.0 = dollars
            "rev_u": _cents("l_extendedprice")
            * (F.lit(100) - _pct("l_discount")),
        }
    )


def tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 shape: single-scan pricing summary. One selective scan
    (shipdate pushed down), partial-aggregated map-side into 6
    (returnflag, linestatus) groups — the canonical 'agg collapses at
    the mapper' plan; at 100 TB the exchange moves 6 rows per task.
    """
    li = _li_money(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= _ts(Q1_CUTOFF)
        )
    ).withColumn("qty", F.round("l_quantity", 0).cast("long"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").alias("sum_qty"),
            F.sum("price_c").alias("_pc"),
            F.sum("rev_u").alias("_ru"),
            # charge accumulates 1e-6-dollar units (4.6e15 per group
            # at sf0.1): a BIGINT sum wraps near sf200 while DuckDB
            # silently widens to HUGEINT — sum in DECIMAL(38,0) so
            # both engines carry 128 bits (round-7 ADVICE)
            F.sum(
                (F.col("rev_u") * (F.lit(100) + F.col("tax_p"))).cast(
                    "decimal(38,0)"
                )
            ).alias("_ch"),
            F.sum("disc_p").alias("_dp"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            halfup_expr("_pc", "100", 2).alias("sum_base_price"),
            halfup_expr("_ru", "10000", 2).alias("sum_disc_price"),
            # _ch sums 1e-6-dollar units: already 4.6e15 per group at
            # sf0.1, so the bigint half-up's *2e2 lift would wrap
            # around sf1 (round-7 ADVICE) — ride the 128-bit form
            halfup_wide_expr("_ch", "1000000", 2).alias("sum_charge"),
            halfup_expr("sum_qty", "count_order", 4).alias("avg_qty"),
            halfup_expr("_pc", "count_order * 100", 4).alias("avg_price"),
            halfup_expr("_dp", "count_order * 100", 4).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 open-order revenue. Filtered customer dim →
    orders (AQE-sized join), then the orderkey fact-fact join, then a
    3-key aggregate and a bounded TakeOrderedAndProject. Revenue ties
    break on orderkey so the LIMIT is total-order deterministic."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts(Q3_DATE)
    )
    li = _li_money(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") > _ts(Q3_DATE)
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_u").alias("_ru"))
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            halfup_expr("_ru", "10000", 2).alias("revenue"),
        )
        .orderBy(
            F.col("revenue").desc(), "o_orderdate", "l_orderkey"
        )
        .limit(10)
    )


def tpch_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: local-supplier volume by nation — the 6-table star.
    region⋈nation collapse to a broadcast key set; supplier joins on
    suppkey with the LOCAL-supplier constraint (c_nationkey =
    s_nationkey) applied as a post-join filter; the only big
    exchanges are the two fact shuffles on orderkey/custkey."""
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    nation = F.broadcast(
        load(spark, sf_dir, "nation").join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    supp = load(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(Q5_START))
        & (F.col("o_orderdate") < _ts(Q5_END))
    )
    cust = load(spark, sf_dir, "customer")
    li = _li_money(load(spark, sf_dir, "lineitem"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev_u").alias("_ru"))
        .select("n_name", halfup_expr("_ru", "10000", 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by returned-item revenue in one
    quarter. returnflag + date predicates push into both fact scans;
    customer joins AQE-sized; nation broadcast. custkey tiebreak
    makes the LIMIT deterministic."""
    li = _li_money(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_returnflag") == "R"
        )
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(Q10_START))
        & (F.col("o_orderdate") < _ts(Q10_END))
    )
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .agg(F.sum("rev_u").alias("_ru"))
        .select(
            "c_custkey",
            "c_name",
            "acctbal",
            "n_name",
            halfup_expr("_ru", "10000", 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


#: shared money-lifting CTE body for the oracles (DuckDB side).
#: CAST(sum(...) AS BIGINT) everywhere: DuckDB widens BIGINT sums to
#: HUGEINT, which would leak into the output schema otherwise.
_LI_MONEY = """
    SELECT l.*,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS INT) AS disc_p,
           CAST(round(l_tax * 100) AS INT) AS tax_p,
           CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS INT)) AS rev_u
    FROM lineitem l
"""

def tpch_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders — HAVING on a fact aggregate
    that then joins back as both a filter and a carried column. The
    per-orderkey quantity aggregate collapses the fact map-side (one
    shuffle on orderkey); the surviving key set is tiny (selectivity
    from Q18_MIN_QTY), so AQE turns the joins back to orders and
    customer into broadcasts of the AGGREGATE side — the
    'aggregate-as-semi-join' plan Q18 exists to exercise. totalprice
    ties break on orderkey so the LIMIT is total-order
    deterministic."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round("l_quantity", 0).cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(100)
    )


def tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral shipping volume between two nations by
    ship year — the DIMENSION SELF-ALIAS star: nation joins the plan
    twice under different roles (supplier's vs customer's nation),
    both as explicit broadcasts; the pair predicate keeps only the
    two trade directions, and revenue aggregates per (supp_nation,
    cust_nation, year) in exact integer units."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("s_nk"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nk"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum("rev_u").alias("_ru"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            halfup_expr("_ru", "10000", 2).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


#: Q4-shape order window and the shipping-delay that counts as late.
#: The fixtures carry l_shipdate but not commit/receipt dates, so the
#: EXISTS predicate is "some line shipped more than LATE_DAYS after
#: the order was placed" — same correlated-semi-join plan class.
Q4_START, Q4_END = "1997-07-01", "1997-10-01"
LATE_DAYS = 60
#: Q12-shape one-year ship window and the priority partition
Q12_START, Q12_END = "1998-01-01", "1999-01-01"
HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")
#: Q16-shape size filter (IN-list pushed to the part scan)
Q16_SIZES = (1, 10, 20, 30, 40, 49)
#: Q11-shape share cutoff: suppliers whose revenue exceeds this many
#: times the MEAN supplier share (corpus-derived — a fixed fraction
#: would drift from selective to empty as supplier count scales)
Q11_MEAN_MULT = 2
#: Q22-shape dormancy window start (customers with no orders since)
Q22_SINCE = "2001-01-01"


def tpch_late_shipment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q4 shape: order-priority checking — how many orders per
    priority had AT LEAST ONE late line. The EXISTS subquery is a
    LEFT SEMI join (one probe per order, no fan-out: an order with
    five late lines counts once), with the correlated predicate
    l_shipdate > o_orderdate + LATE_DAYS evaluated inside the join
    condition; the order-date window prunes the orders scan.
    Reference analog: the reference's existence probes
    (app_streamlit.py table checks) generalized to a correlated
    quantified predicate."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(Q4_START))
        & (F.col("o_orderdate") < _ts(Q4_END))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


def tpch_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: late lines split into high/low order-priority
    counts per return flag — the CONDITIONAL TWO-WAY COUNT over a
    fact-fact join. Both counts ride ONE partial aggregate (a single
    shuffle of 3 pre-aggregated rows per task); the ship-date window
    prunes the lineitem scan before the join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(Q12_START))
        & (F.col("l_shipdate") < _ts(Q12_END))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def tpch_parts_supplier_variety(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q16 shape: distinct-supplier counts per (brand, size) for an
    IN-list of sizes, EXCLUDING flagged suppliers via NOT IN — the
    null-free subquery makes NOT IN exactly a LEFT ANTI join (the
    fixtures have no partsupp table, so the part-supplier pairs come
    from lineitem, deduplicated BEFORE the count-distinct aggregate
    so the join moves pairs, not line items). The size IN-list
    reaches the part scan as a pushed filter; the flagged-supplier
    set (negative account balance) broadcasts."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(
        F.col("p_size").isin(*Q16_SIZES)
    )
    flagged = F.broadcast(
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    pairs = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_size", "l_suppkey")
        .distinct()
        .join(flagged, "l_suppkey", "left_anti")
    )
    return (
        pairs.groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


def tpch_top_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: suppliers whose revenue share exceeds
    Q11_MEAN_MULT x the mean supplier share — HAVING against a
    GLOBAL scalar. The one-row corpus total (revenue units + distinct
    supplier count off the SAME partial aggregate) broadcasts back
    over the per-supplier rollup, and the comparison is an integer
    cross-multiplication in DECIMAL(38,0) (rev_u * n_sup vs
    mult * total_u — no double division, and 128-bit so the product
    can't wrap at any SF). share_pct displays through the 128-bit
    half-up for the same reason (round-7 ADVICE class)."""
    li = _li_money(load(spark, sf_dir, "lineitem"))
    # materialize the supplier rollup: the 1-row total derives FROM it,
    # and without the checkpoint Catalyst duplicates the whole
    # scan+partial-agg+exchange subtree to feed both consumers — two
    # corpus scans for one supplier-sized frame (plan-pinned)
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum("rev_u").alias("_ru"))
        .localCheckpoint(eager=False)
    )
    total = per_supp.agg(
        F.sum(F.col("_ru").cast("decimal(38,0)")).alias("_total"),
        F.count(F.lit(1)).alias("_nsup"),
    )
    keep = (
        F.col("_ru").cast("decimal(38,0)") * F.col("_nsup")
        > F.lit(Q11_MEAN_MULT) * F.col("_total")
    )
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(keep)
        .select(
            "l_suppkey",
            halfup_expr("_ru", "10000", 2).alias("revenue"),
            # widen BEFORE the *100 so the pre-multiply can't wrap
            halfup_wide_expr(
                "CAST(_ru AS DECIMAL(38,0)) * 100", "_total", 4
            ).alias("share_pct"),
        )
        .orderBy(F.desc("revenue"), "l_suppkey")
    )


def tpch_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: per name-prefix cohort (substr of c_name — the
    cntrycode analog these fixtures support), count customers with
    above-positive-average balances and NO orders since Q22_SINCE.
    Three exact-plan classes in one query: a SUBSTRING-derived
    grouping key, a global scalar threshold compared by INTEGER
    CROSS-MULTIPLICATION (acctbal_c * n_pos > sum_pos_c — no double
    mean), and NOT EXISTS as a LEFT ANTI join against the DISTINCT
    recent-orderer set."""
    cust = load(spark, sf_dir, "customer").withColumn(
        "acctbal_c", _cents("c_acctbal")
    )
    pos = cust.filter(F.col("acctbal_c") > 0).agg(
        F.sum("acctbal_c").alias("_sum_pos"),
        F.count(F.lit(1)).alias("_n_pos"),
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts(Q22_SINCE))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("acctbal_c") * F.col("_n_pos") > F.col("_sum_pos"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .withColumn("cohort", F.substring("c_name", 10, 2))
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("acctbal_c").alias("_bal"),
        )
        .select(
            "cohort",
            "numcust",
            halfup_expr("_bal", "100", 2).alias("totacctbal"),
        )
        .orderBy("cohort")
    )


#: Q17-shape brand filter (bounded output: one row per brand)
Q17_BRANDS = ("Brand#1", "Brand#2", "Brand#3")
#: below-average multiplier 1/5 (the TPC-H 0.2)
Q17_FRAC_DEN = 5
#: Q19-shape disjunctive clauses: (brand, size range, qty range)
Q19_CLAUSES = (
    ("Brand#12", 1, 15, 1, 11),
    ("Brand#23", 10, 25, 10, 20),
    ("Brand#34", 20, 40, 20, 30),
)


def tpch_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q17 shape: revenue lost to small orders — lines whose quantity
    sits below 1/{Q17_FRAC_DEN} of their PART's average quantity. The
    correlated scalar subquery (per-part average) rewrites to a
    window over the SAME partkey partitioning the join already needs,
    and the threshold comparison is an integer cross-multiplication
    (qty * den * n_part < sum_qty_part — quantities are integral on
    these fixtures, so no double mean exists anywhere). Output is one
    row per filtered brand."""
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(*Q17_BRANDS)
    )
    li = _li_money(load(spark, sf_dir, "lineitem")).withColumn(
        "qty", F.round("l_quantity", 0).cast("long")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("_nq", F.count(F.lit(1)).over(w))
        .withColumn("_sq", F.sum("qty").over(w))
    )
    below = (
        F.col("qty") * Q17_FRAC_DEN * F.col("_nq") < F.col("_sq")
    )
    return (
        joined.filter(below)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.sum("price_c").alias("_pc"),
        )
        .select(
            "p_brand",
            "n_small_lines",
            halfup_expr("_pc", "100", 2).alias("small_line_revenue"),
        )
        .orderBy("p_brand")
    )


def tpch_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q19 shape: revenue under an OR-of-ANDs predicate (brand x
    size-range x quantity-range triples) — the disjunctive-pushdown
    plan class: Catalyst distributes the common join key, pushes the
    per-side conjuncts it can prove (size bounds to the part scan,
    quantity bounds to the lineitem scan as a range ENVELOPE), and
    evaluates the residual OR after the join. One aggregate row per
    clause via a clause-id CASE, so the gate pins every branch, not
    just the union."""
    li = _li_money(load(spark, sf_dir, "lineitem")).withColumn(
        "qty", F.round("l_quantity", 0).cast("long")
    )
    part = load(spark, sf_dir, "part")
    clause_id = None
    pred = None
    for idx, (brand, s_lo, s_hi, q_lo, q_hi) in enumerate(Q19_CLAUSES):
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("qty").between(q_lo, q_hi)
        )
        pred = c if pred is None else (pred | c)
        clause_id = (
            F.when(c, F.lit(idx))
            if clause_id is None
            else clause_id.when(c, F.lit(idx))
        )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .withColumn("clause", clause_id.cast("int"))
        .groupBy("clause")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rev_u").alias("_ru"),
        )
        .select(
            "clause",
            "n_lines",
            halfup_expr("_ru", "10000", 2).alias("revenue"),
        )
        .orderBy("clause")
    )


QUERIES = {
    "tpch_pricing_summary": tpch_pricing_summary,
    "tpch_shipping_priority": tpch_shipping_priority,
    "tpch_regional_revenue": tpch_regional_revenue,
    "tpch_returned_items": tpch_returned_items,
    "tpch_large_volume": tpch_large_volume,
    "tpch_volume_shipping": tpch_volume_shipping,
    "tpch_late_shipment_priority": tpch_late_shipment_priority,
    "tpch_shipmode_priority": tpch_shipmode_priority,
    "tpch_parts_supplier_variety": tpch_parts_supplier_variety,
    "tpch_top_supplier_share": tpch_top_supplier_share,
    "tpch_sales_opportunity": tpch_sales_opportunity,
    "tpch_small_quantity_revenue": tpch_small_quantity_revenue,
    "tpch_disjunctive_revenue": tpch_disjunctive_revenue,
}

_SUM_QTY = "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)"
_SUM_REV = "CAST(sum(rev_u) AS BIGINT)"


ORACLES = {
    "tpch_pricing_summary": f"""
        WITH li AS ({_LI_MONEY})
        SELECT l_returnflag, l_linestatus,
               {_SUM_QTY} AS sum_qty,
               {halfup_duck("CAST(sum(price_c) AS BIGINT)", "100", 2)}
                 AS sum_base_price,
               {halfup_duck(_SUM_REV, "10000", 2)} AS sum_disc_price,
               {halfup_ratio_wide_sql(
                    "sum(rev_u * (100 + tax_p))",
                    "1000000", 2, engine="duck")} AS sum_charge,
               {halfup_duck(_SUM_QTY, "count(*)", 4)} AS avg_qty,
               {halfup_duck("CAST(sum(price_c) AS BIGINT)",
                            "count(*) * 100", 4)}
                 AS avg_price,
               {halfup_duck("CAST(sum(disc_p) AS BIGINT)",
                            "count(*) * 100", 4)}
                 AS avg_disc,
               count(*) AS count_order
        FROM li
        WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "tpch_shipping_priority": f"""
        WITH li AS ({_LI_MONEY})
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {halfup_duck(_SUM_REV, '10000', 2)} AS revenue
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = '{Q3_SEGMENT}'
          AND o_orderdate < TIMESTAMP '{Q3_DATE}'
          AND l_shipdate > TIMESTAMP '{Q3_DATE}'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "tpch_regional_revenue": f"""
        WITH li AS ({_LI_MONEY})
        SELECT n_name,
               {halfup_duck(_SUM_REV, '10000', 2)} AS revenue
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{Q5_REGION}'
          AND o_orderdate >= TIMESTAMP '{Q5_START}'
          AND o_orderdate < TIMESTAMP '{Q5_END}'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "tpch_large_volume": f"""
        WITH big AS (
            SELECT l_orderkey,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                       AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(round(l_quantity) AS BIGINT)) > {Q18_MIN_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS total_price, sum_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_price DESC, o_orderkey
        LIMIT 100
    """,
    "tpch_volume_shipping": f"""
        WITH li AS ({_LI_MONEY})
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {halfup_duck(_SUM_REV, '10000', 2)} AS revenue
        FROM li
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
           OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_returned_items": f"""
        WITH li AS ({_LI_MONEY})
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal,
               n_name,
               {halfup_duck(_SUM_REV, '10000', 2)} AS revenue
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '{Q10_START}'
          AND o_orderdate < TIMESTAMP '{Q10_END}'
        GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
}

ORACLES["tpch_late_shipment_priority"] = f"""
    SELECT o_orderpriority, count(*) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{Q4_START}'
      AND o_orderdate < TIMESTAMP '{Q4_END}'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

_HIGH = ", ".join(f"'{p}'" for p in HIGH_PRIORITIES)

ORACLES["tpch_shipmode_priority"] = f"""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ({_HIGH})
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ({_HIGH})
                         THEN 0 ELSE 1 END) AS BIGINT)
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '{Q12_START}'
      AND l_shipdate < TIMESTAMP '{Q12_END}'
      AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

ORACLES["tpch_parts_supplier_variety"] = f"""
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size IN ({", ".join(map(str, Q16_SIZES))})
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
"""

ORACLES["tpch_top_supplier_share"] = f"""
    WITH li AS ({_LI_MONEY}),
    ps AS (
        SELECT l_suppkey, sum(rev_u) AS ru
        FROM li GROUP BY l_suppkey
    ),
    t AS (
        SELECT sum(ru) AS total, count(*) AS nsup FROM ps
    )
    SELECT l_suppkey,
           {halfup_duck('CAST(ps.ru AS BIGINT)', '10000', 2)} AS revenue,
           {halfup_ratio_wide_sql('ps.ru * 100', 't.total', 4,
                                  engine='duck')} AS share_pct
    FROM ps, t
    WHERE ps.ru * t.nsup > {Q11_MEAN_MULT} * t.total
    ORDER BY revenue DESC, l_suppkey
"""

ORACLES["tpch_sales_opportunity"] = f"""
    WITH c AS (
        SELECT c_custkey, c_name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
    ),
    p AS (
        SELECT CAST(sum(bal_c) AS BIGINT) AS sum_pos,
               count(*) AS n_pos
        FROM c WHERE bal_c > 0
    )
    SELECT substring(c_name, 10, 2) AS cohort,
           count(*) AS numcust,
           {halfup_duck('CAST(sum(bal_c) AS BIGINT)', '100', 2)} AS totacctbal
    FROM c, p
    WHERE bal_c * n_pos > sum_pos
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{Q22_SINCE}'
      )
    GROUP BY cohort
    ORDER BY cohort
"""


ORACLES["tpch_small_quantity_revenue"] = f"""
    WITH li AS ({_LI_MONEY}),
    j AS (
        SELECT p_brand, price_c,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               count(*) OVER w AS nq,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) OVER w
                    AS BIGINT) AS sq
        FROM li JOIN part ON l_partkey = p_partkey
        WHERE p_brand IN ({", ".join(f"'{b}'" for b in Q17_BRANDS)})
        WINDOW w AS (PARTITION BY l_partkey)
    )
    SELECT p_brand, count(*) AS n_small_lines,
           {halfup_duck('CAST(sum(price_c) AS BIGINT)', '100', 2)}
               AS small_line_revenue
    FROM j
    WHERE qty * {Q17_FRAC_DEN} * nq < sq
    GROUP BY p_brand
    ORDER BY p_brand
"""

_Q19_CASE = " ".join(
    f"WHEN p_brand = '{b}' AND p_size BETWEEN {sl} AND {sh} "
    f"AND qty BETWEEN {ql} AND {qh} THEN {i}"
    for i, (b, sl, sh, ql, qh) in enumerate(Q19_CLAUSES)
)

ORACLES["tpch_disjunctive_revenue"] = f"""
    WITH li AS ({_LI_MONEY}),
    j AS (
        SELECT p_brand, p_size, rev_u,
               CAST(round(l_quantity) AS BIGINT) AS qty
        FROM li JOIN part ON l_partkey = p_partkey
    ),
    c AS (
        SELECT CAST(CASE {_Q19_CASE} END AS INT) AS clause, rev_u
        FROM j
    )
    SELECT clause, count(*) AS n_lines,
           {halfup_duck('CAST(sum(rev_u) AS BIGINT)', '10000', 2)} AS revenue
    FROM c
    WHERE clause IS NOT NULL
    GROUP BY clause
    ORDER BY clause
"""
