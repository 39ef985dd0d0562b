"""Stream-STREAM event-time interval join (SURVEY.md §2.9) — the one
Structured Streaming join shape the rest of the streaming pack didn't
cover: two unbounded sides buffered against each other under
watermarks, with an event-time range condition bounding how long
either side's state lives.

The concrete operator is a conversion funnel over the events corpus:
every `view` joined to the same user's `purchase`s that happen within
CONVERSION_HORIZON_MIN minutes — the streaming analog of a batch
interval self-join (same `conversion_join` code runs on batch frames,
which is how the parity test pins it).

State story at 100 TB/day: both sides are watermarked, and the join
condition couples the two event times (p_ts between v_ts and v_ts +
horizon), so Spark's StreamingSymmetricHashJoin can evict a buffered
view once the watermark passes v_ts + horizon and a buffered purchase
once it passes p_ts — state is bounded by (traffic within horizon +
allowed lateness), never by stream length. Without the range
condition the view side would buffer FOREVER (documented Spark
behavior for unbounded stream-stream joins); the explicit coupling is
the whole design.

Keys: the join shuffles both sides on user_id — at scale this is the
same hash exchange a batch join pays, amortized per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA
from .drain import drain, file_stream

#: purchases count as conversions this many minutes after the view
CONVERSION_HORIZON_MIN = 30
#: how late either side's events may arrive before state eviction
LATE_LIMIT = "1 hour"


def events_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream over landed event shards; one file per micro-batch so
    replays exercise CROSS-batch join buffering, not a single-batch
    degenerate case."""
    return file_stream(spark, TESTDATA["events"], landing_dir)


def _funnel_sides(events: DataFrame, horizon_min: int):
    """The two watermarked sides and the coupled event-time range
    condition every funnel-join variant shares. The range condition
    (purchase_ts within [view_ts, view_ts + horizon]) is what lets
    StreamingSymmetricHashJoin bound BOTH buffers — and for the
    outer variants it fixes the proof point at which a null row may
    emit (left: watermark > view_ts + horizon; right: watermark >
    purchase_ts)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", LATE_LIMIT)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", LATE_LIMIT)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_min} MINUTES")
        )
    )
    return views, purchases, cond


def conversion_join(
    events: DataFrame, horizon_min: int = CONVERSION_HORIZON_MIN
) -> DataFrame:
    """view→purchase conversions within `horizon_min` minutes, per
    user. Works identically on a batch frame and a streaming frame —
    withWatermark is a no-op on batch — so batch IS the oracle for
    the streaming run (tests/test_stream_join.py).

    Returns (user_id, view_id, purchase_id, view_ts, purchase_ts,
    secs_to_convert)."""
    views, purchases, cond = _funnel_sides(events, horizon_min)
    return views.join(purchases, cond, "inner").select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
        ).alias("us_to_convert"),
    )


def conversion_join_outer(
    events: DataFrame, horizon_min: int = CONVERSION_HORIZON_MIN
) -> DataFrame:
    """LEFT-OUTER variant of the conversion funnel — the shape real
    funnels need: every view emits, converted or not. Matches emit as
    soon as both sides meet (same as the inner join); an UNMATCHED
    view's null-right row emits only once the watermark passes
    view_ts + horizon — the point where Spark can PROVE no purchase
    can ever arrive for it (outer results cannot be early: emitting a
    null row and later a match would retract appended output). Same
    bounded-state story as the inner join: the event-time range
    condition couples the two sides, so buffered rows evict with the
    watermark; the null emission rides the same eviction.

    `converted` is derived, not inferred downstream, so consumers
    never need a null-sentinel convention. Works identically on a
    batch frame (a plain left join — the parity oracle), where every
    unmatched view appears because batch has no open horizon."""
    views, purchases, cond = _funnel_sides(events, horizon_min)
    return views.join(purchases, cond, "left_outer").select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
        ).alias("us_to_convert"),
        F.col("purchase_id").isNotNull().alias("converted"),
    )


def conversion_join_right_outer(
    events: DataFrame, horizon_min: int = CONVERSION_HORIZON_MIN
) -> DataFrame:
    """RIGHT-OUTER variant — the attribution audit's shape: every
    PURCHASE emits, attributed to a qualifying view or not (an
    unattributed purchase is organic/dark traffic, the number a
    marketing team reconciles spend against). An unmatched purchase's
    null-left row emits once the watermark passes purchase_ts — by
    the range condition any qualifying view satisfies view_ts >=
    purchase_ts - horizon AND view_ts <= purchase_ts, so a view that
    could still arrive is younger than the purchase itself; once the
    watermark passes purchase_ts nothing admissible remains.

    user_id comes from whichever side exists (they are equal on
    matches by the join condition). Batch frame = plain right join,
    the parity oracle."""
    views, purchases, cond = _funnel_sides(events, horizon_min)
    return views.join(purchases, cond, "right_outer").select(
        F.coalesce("user_id", "p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
        ).alias("us_to_convert"),
        F.col("view_id").isNotNull().alias("attributed"),
    )


def conversion_join_full_outer(
    events: DataFrame, horizon_min: int = CONVERSION_HORIZON_MIN
) -> DataFrame:
    """FULL-OUTER variant — one stream carrying the complete funnel
    ledger: matches, views that never converted (converted=false),
    and purchases no view explains (attributed=false). Null rows on
    each side ride that side's eviction proof point (left: view_ts +
    horizon; right: purchase_ts — see the left/right variants), so
    state stays watermark-bounded exactly as in the inner join.

    Completes the stream-stream join matrix (inner / left / right /
    full). Batch frame = plain full join, the parity oracle."""
    views, purchases, cond = _funnel_sides(events, horizon_min)
    return views.join(purchases, cond, "full_outer").select(
        F.coalesce("user_id", "p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
        ).alias("us_to_convert"),
        F.col("purchase_id").isNotNull().alias("converted"),
        F.col("view_id").isNotNull().alias("attributed"),
    )


def run_join_variant_to_memory(
    spark: SparkSession,
    landing_dir: str,
    name: str,
    join_fn=conversion_join,
):
    """Drain the landed shards through any funnel-join variant into
    the in-memory table `name` (append mode). Returns the finished
    query handle so tests can read the final watermark from its
    progress."""
    return drain(join_fn(events_stream(spark, landing_dir)), table=name)


def enriched_nation_counts(
    spark: SparkSession, events: DataFrame, sf_dir: str
) -> DataFrame:
    """STREAM-STATIC dimension enrichment — the other streaming join
    kind: the unbounded event stream joins the static customer->nation
    dimensions with NO state at all (Spark re-evaluates the static
    side per micro-batch; a dim update is picked up on the next
    trigger), then aggregates hourly signup counts per nation under a
    watermark. Works identically on a batch frame — the parity
    oracle."""
    from ..sources.catalog import load

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = F.broadcast(
        load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        events.withWatermark("ts", LATE_LIMIT)
        .filter(F.col("event_type") == "signup")
        .join(cust, "user_id")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("n_name"))
        .agg(F.count(F.lit(1)).alias("n_signups"))
        .select(
            F.col("w.start").alias("hour_start"), "n_name", "n_signups"
        )
    )
