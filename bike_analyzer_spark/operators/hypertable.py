"""Hypertable rollup — the third custom operator family the builder
brief names ("as-of join, range join, hypertable rollup"): a
TimescaleDB-style continuous-aggregate cascade where every coarser
time grain is re-aggregated FROM THE NEXT FINER GRAIN's partial
aggregates, never from raw data.

That derivation order is the whole point at 100 TB: the minute-grain
pass is the only scan of the raw table; the hour pass reads
~1/60th of that, the day pass ~1/24th again. All aggregates carried
are ALGEBRAIC — (count, sum, min, max) re-aggregate losslessly
(sum of counts; sum of sums; min of mins; max of maxes) and avg is
derived at read time as sum/count — so the
cascade is exactly equal to aggregating raw data at each grain, which
is precisely what the DuckDB oracle computes (each grain directly
from raw: an independent derivation of the same numbers).

Output: the three grains unioned long-form with a `grain` column —
one frame a dashboard can filter by resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents, halfup_avg_sql
from ..sources.catalog import load
from . import sorted_small

GRAINS = ("minute", "hour", "day")


def _partials(df: DataFrame, trunc: str, src_ts: str) -> DataFrame:
    """One rollup step: aggregate the four algebraic partials to the
    `trunc` grain of `src_ts`. Works identically on raw events
    (count of rows) and on finer partials (sum of counts) — the
    caller picks the right expressions."""
    return df.groupBy(
        F.date_trunc(trunc, src_ts).alias("bucket"), "event_type"
    )


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute -> hour -> day continuous-aggregate cascade over
    events.value, per event_type."""
    events = load(spark, sf_dir, "events")
    minute = (
        _partials(events, "minute", "ts")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact integer cents: partial sums re-aggregate with NO
            # accumulation-order sensitivity at any grain
            F.sum(cents(F.col("value"))).alias("sum_c"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )
    def up(finer: DataFrame, trunc: str) -> DataFrame:
        # re-aggregation of partials: NEVER touches raw events
        return (
            _partials(finer, trunc, "bucket")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_c").alias("sum_c"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )

    hour = up(minute, "hour")
    day = up(hour, "day")

    def out(df: DataFrame, grain: str) -> DataFrame:
        # sum displays as exact cents/100; avg is the integer half-up
        # form (functions.exact) — a rounded DOUBLE avg flips one ulp
        # cross-engine whenever n is 2^a*5^b (seen at sf0.1: n=24/32)
        return df.selectExpr(
            f"'{grain}' AS grain",
            "unix_micros(bucket) AS bucket_us",
            "event_type",
            "n",
            "round(sum_c / CAST(100 AS DOUBLE), 4) AS sum_v",
            halfup_avg_sql("sum_c", "n") + " AS avg_v",
            "round(min_v, 4) AS min_v",
            "round(max_v, 4) AS max_v",
        )

    # only the day + hour grains are emitted in full; the minute grain
    # is summarized per type (emitting ~50k minute rows would make the
    # corpus row count data-volume-bound; the cascade still computes it
    # as the source of the hour grain, and the summary pins it)
    minute_summary = minute.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sum_c").alias("sum_c"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ).selectExpr(
        "'minute_summary' AS grain",
        "CAST(0 AS BIGINT) AS bucket_us",
        "event_type",
        "n",
        "round(sum_c / CAST(100 AS DOUBLE), 4) AS sum_v",
        halfup_avg_sql("sum_c", "n") + " AS avg_v",
        "round(min_v, 4) AS min_v",
        "round(max_v, 4) AS max_v",
    )
    return (
        out(day, "day")
        .unionByName(out(hour, "hour"))
        .unionByName(minute_summary)
        .transform(sorted_small, "grain", "bucket_us", "event_type")
    )


QUERIES = {"hypertable_rollup": hypertable_rollup}

# The oracle derives EVERY grain directly from raw — if the cascade's
# partial re-aggregation were lossy, any grain would diverge.
_DUCK_AVG = halfup_avg_sql("_c", "n", engine="duck")

#: one grain's partials CTE body, derived directly from raw events
_GRAIN_CTE = """
            SELECT epoch_us(date_trunc('{trunc}', CAST(ts AS TIMESTAMP)))
                       AS bucket_us,
                   event_type,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS _c,
                   round(min(value), 4) AS min_v,
                   round(max(value), 4) AS max_v
            FROM events
            GROUP BY 1, 2
"""

_GRAIN_SELECT = """
        SELECT '{label}' AS grain, bucket_us, event_type, n,
               round(_c / 100.0, 4) AS sum_v,
               {avg} AS avg_v,
               min_v, max_v
        FROM g_{label}
"""

ORACLES = {
    "hypertable_rollup": f"""
        WITH g_day AS ({_GRAIN_CTE.format(trunc="day")}),
        g_hour AS ({_GRAIN_CTE.format(trunc="hour")})
        {_GRAIN_SELECT.format(label="day", avg=_DUCK_AVG)}
        UNION ALL
        {_GRAIN_SELECT.format(label="hour", avg=_DUCK_AVG)}
        UNION ALL
        SELECT 'minute_summary' AS grain,
               CAST(0 AS BIGINT) AS bucket_us,
               event_type,
               n,
               round(_c / 100.0, 4) AS sum_v,
               {_DUCK_AVG} AS avg_v,
               round(min_v, 4) AS min_v,
               round(max_v, 4) AS max_v
        FROM (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(mc) AS BIGINT) AS _c,
                   min(mmin) AS min_v, max(mmax) AS max_v
            FROM (
                SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS b,
                       event_type,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS mc,
                       min(value) AS mmin, max(value) AS mmax
                FROM events GROUP BY 1, 2
            )
            GROUP BY event_type
        )
        ORDER BY grain, bucket_us, event_type
    """,
}


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB-style `time_weight('LOCF')` per (event_type,
    day): each observation holds its value until the next one, so
    the average weights every value by the exact microseconds it was
    "current" — the right statistic for irregularly-sampled series,
    where the plain AVG the rollup above emits over-counts bursts.
    The integration runs first-to-last observation within the
    partition (the last value carries no weight — pure LOCF); a
    single-observation partition has zero duration and a NULL twap.

    Exactness: weights are exact integer microsecond gaps from ONE
    `lead()` over the (us, event_id)-ordered partition (same-
    microsecond ties get zero weight deterministically); the
    value*gap products are summed as DECIMAL(38,0) — cents * day-of-
    microseconds is ~5e15 per row, so a bigint sum would wrap near
    ~1800 rows/group while the decimal carries any SF (DuckDB's
    HUGEINT mirrors it) — and the display divide is the 128-bit
    half-up. The plain mean rides the same integer machinery for
    contrast.

    Scale shape: ONE shuffle on the (event_type, day) partition key
    (the window sort and the groupBy reuse it), output rows =
    |types| x days. No broadcast, no skew (per-key rows are
    day-bounded).
    """
    from pyspark.sql import Window

    from ..functions.exact import halfup_ratio_sql, halfup_ratio_wide_sql

    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        cents(F.col("value")).alias("v"),
    )
    g = (
        ev.withColumn("nxt", F.lead("us").over(w))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("v").alias("sum_v"),
            F.sum(
                F.expr("CAST(v * (nxt - us) AS DECIMAL(38,0))")
            ).alias("vw"),
            (F.max("us") - F.min("us")).alias("dur_us"),
        )
    )
    twap = halfup_ratio_wide_sql("vw", "dur_us * 100", 4, "spark")
    mean = halfup_ratio_sql("sum_v", "n_obs * 100", 4, "spark")
    return g.selectExpr(
        "event_type",
        "day",
        "n_obs",
        "dur_us",
        f"CASE WHEN dur_us > 0 THEN {twap} END AS twap_value",
        f"{mean} AS mean_value",
    ).orderBy("event_type", "day")


QUERIES["time_weighted_avg"] = time_weighted_avg


def _twap_oracle() -> str:
    from ..functions.exact import halfup_ratio_sql, halfup_ratio_wide_sql

    twap = halfup_ratio_wide_sql("vw", "dur_us * 100", 4, "duck")
    mean = halfup_ratio_sql("sum_v", "n_obs * 100", 4, "duck")
    return f"""
        WITH ev AS (
            SELECT event_type, CAST(ts AS DATE) AS day, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events
        ),
        led AS (
            SELECT *, lead(us) OVER (
                PARTITION BY event_type, day ORDER BY us, event_id
            ) AS nxt
            FROM ev
        ),
        g AS (
            SELECT event_type, day,
                   count(*) AS n_obs,
                   CAST(sum(v) AS BIGINT) AS sum_v,
                   sum(CAST(v AS HUGEINT) * (nxt - us)) AS vw,
                   CAST(max(us) - min(us) AS BIGINT) AS dur_us
            FROM led GROUP BY 1, 2
        )
        SELECT event_type, day, n_obs, dur_us,
               CASE WHEN dur_us > 0 THEN {twap} END AS twap_value,
               {mean} AS mean_value
        FROM g
        ORDER BY event_type, day
    """


ORACLES["time_weighted_avg"] = _twap_oracle()
