"""Stream-stream event-time interval join: batch/stream parity (the
same conversion_join code runs on both), cross-batch buffering (views
and purchases land in different micro-batches), and the bounded-state
plan node (StreamingSymmetricHashJoin with watermarks)."""

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import joins
from bike_analyzer_spark.streaming.drain import drain
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture()
def landed_events(spark, tmp_path):
    """sf0.001 events landed as 4 CHRONOLOGICAL shard files (range-
    partitioned on ts, the order real shards arrive) —
    maxFilesPerTrigger=1 then forces views and their matching
    purchases through DIFFERENT micro-batches, so horizon-crossing
    matches require cross-batch state buffering; chronological
    arrival keeps every match inside the watermark (a view whose
    purchase sits in the next shard is at most one shard older, far
    younger than LATE_LIMIT)."""
    import os
    import time

    landing = str(tmp_path / "landing")
    (
        load(spark, SF_DIR_SMOKE, "events")
        .repartitionByRange(4, "ts")
        .write.mode("overwrite")
        .parquet(landing)
    )
    # The file source orders shards by MODIFICATION TIME; the write
    # job's tasks finish in arbitrary order, so under load a
    # later-range shard can get an earlier mtime and arrive first —
    # which the watermark then treats as making the earlier-range
    # shard LATE (observed flake in the full suite). Pin arrival
    # order = range order (part-00000 holds the smallest ts range).
    parts = sorted(
        os.path.join(landing, f)
        for f in os.listdir(landing)
        if f.endswith(".parquet")
    )
    base = time.time() - 3600
    for i, p in enumerate(parts):
        os.utime(p, (base + 10 * i, base + 10 * i))
    return landing


def _key(r):
    return (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)


def test_stream_matches_batch_and_buffers_across_batches(
    spark, landed_events
):
    batch = {
        _key(r)
        for r in joins.conversion_join(
            load(spark, SF_DIR_SMOKE, "events")
        ).collect()
    }
    assert len(batch) > 0  # non-degenerate fixture

    joins.run_join_variant_to_memory(spark, landed_events, "conv_test")
    streamed = {
        _key(r) for r in spark.table("conv_test").collect()
    }
    assert streamed == batch


def test_join_state_is_watermark_bounded(spark, landed_events):
    """The streaming plan must be a StreamingSymmetricHashJoin with
    watermarks on BOTH sides and the event-time range condition —
    the combination Spark needs to evict buffered rows; without it
    the view side buffers forever."""
    df = joins.conversion_join(joins.events_stream(spark, landed_events))
    assert df.isStreaming
    q = drain(df, table="conv_plan_probe")
    assert spark.table("conv_plan_probe").count() > 0
    # the physical evidence: symmetric hash join + eviction watermark
    progress = q.recentProgress[-1]
    assert progress["stateOperators"], "join kept no state operator"
    op = progress["stateOperators"][0]
    assert op["operatorName"] == "symmetricHashJoin"
    # rows were evicted or at least bounded: state rows never exceed
    # the corpus's view+purchase population
    n_events = load(spark, SF_DIR_SMOKE, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).count()
    assert 0 < op["numRowsTotal"] <= n_events


def test_horizon_is_exclusive_bound(spark):
    """A purchase exactly AT the horizon converts; one microsecond
    past it does not (closed interval, pinned)."""
    rows = [
        (1, "2024-01-01 00:00:00", 100, "view", 1.0, "{}"),
        (2, "2024-01-01 00:30:00", 100, "purchase", 1.0, "{}"),
        (3, "2024-01-01 00:30:00.000001", 100, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        [
            (i, ts, u, t, v, p)
            for (i, ts, u, t, v, p) in rows
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.purchase_id for r in joins.conversion_join(ev).collect()}
    assert got == {2}


def test_stream_static_enrichment_matches_batch(spark, landed_events):
    """Stream-static join parity: the same enrichment code over the
    batch frame is the oracle; the streaming run must produce the
    identical hourly per-nation counts (complete mode — hourly
    windows close only at the watermark, and the fixture's last hour
    never does)."""
    batch = {
        (r.hour_start, r.n_name, r.n_signups)
        for r in joins.enriched_nation_counts(
            spark, load(spark, SF_DIR_SMOKE, "events"), SF_DIR_SMOKE
        ).collect()
    }
    assert len(batch) > 0

    q = drain(
        joins.enriched_nation_counts(
            spark, joins.events_stream(spark, landed_events), SF_DIR_SMOKE
        ),
        table="enrich_test",
        mode="complete",
    )
    streamed = {
        (r.hour_start, r.n_name, r.n_signups)
        for r in spark.table("enrich_test").collect()
    }
    assert streamed == batch
    # stream-static keeps NO join state: only the aggregation holds
    # rows (the dim side is re-read per micro-batch, not buffered)
    ops = q.recentProgress[-1]["stateOperators"]
    assert all(op["operatorName"] != "symmetricHashJoin" for op in ops)


def test_outer_join_matches_batch_and_emits_nulls_at_watermark(
    spark, landed_events
):
    """Left-outer stream-stream join (round 8): matched rows must
    equal the batch left-join's matches exactly; unmatched views
    emit a null-right row ONLY at watermark eviction, so every view
    whose horizon closed strictly before the final batch's watermark
    must have emitted, every emitted null must be a genuine batch
    null, and views still inside the open horizon must NOT have
    null rows yet."""
    from datetime import timedelta

    batch = joins.conversion_join_outer(
        load(spark, SF_DIR_SMOKE, "events")
    ).collect()
    b_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in batch
        if r.converted
    }
    b_null_views = {r.view_id: r.view_ts for r in batch if not r.converted}
    assert b_matched and b_null_views  # non-degenerate fixture

    q = joins.run_join_variant_to_memory(
        spark, landed_events, "conv_outer_test", joins.conversion_join_outer
    )
    out = spark.table("conv_outer_test").collect()
    s_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in out
        if r.converted
    }
    s_nulls = {r.view_id for r in out if not r.converted}
    assert s_matched == b_matched
    assert s_nulls <= set(b_null_views)  # no invented non-conversions
    for r in out:
        if not r.converted:
            assert r.purchase_id is None
            assert r.purchase_ts is None
            assert r.us_to_convert is None

    # eviction pin: the watermark IN EFFECT during the final batch
    # (UTC, session tz pinned to UTC) bounds which nulls have emitted
    from datetime import datetime

    wm_s = q.recentProgress[-1]["eventTime"]["watermark"]
    wm = datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")
    horizon = timedelta(minutes=joins.CONVERSION_HORIZON_MIN)
    margin = timedelta(seconds=1)  # keep off the eviction boundary
    due = {
        vid
        for vid, ts in b_null_views.items()
        if ts + horizon < wm - margin
    }
    not_yet = {
        vid
        for vid, ts in b_null_views.items()
        if ts + horizon > wm + margin
    }
    assert due, "fixture left no view past the watermark (vacuous pin)"
    assert due <= s_nulls
    assert not (not_yet & s_nulls), (
        "null rows emitted for views whose horizon is still open"
    )


def test_right_outer_join_matches_batch_and_emits_nulls_at_watermark(
    spark, landed_events
):
    """Right-outer stream-stream join (round 9): matched rows equal
    the batch right-join's matches; an unattributed purchase's
    null-left row emits only once the watermark passes purchase_ts
    (past that, any qualifying view would itself be late-beyond-
    watermark), and purchases still inside the open window must not
    have null rows yet."""
    from datetime import datetime, timedelta

    batch = joins.conversion_join_right_outer(
        load(spark, SF_DIR_SMOKE, "events")
    ).collect()
    b_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in batch
        if r.attributed
    }
    b_null_purchases = {
        r.purchase_id: r.purchase_ts for r in batch if not r.attributed
    }
    assert b_matched and b_null_purchases  # non-degenerate fixture

    q = joins.run_join_variant_to_memory(
        spark, landed_events, "conv_router_test",
        joins.conversion_join_right_outer,
    )
    out = spark.table("conv_router_test").collect()
    s_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in out
        if r.attributed
    }
    s_nulls = {r.purchase_id for r in out if not r.attributed}
    assert s_matched == b_matched
    assert s_nulls <= set(b_null_purchases)  # no invented orphans
    for r in out:
        if not r.attributed:
            assert r.view_id is None
            assert r.view_ts is None
            assert r.us_to_convert is None
            assert r.user_id is not None  # carried from the purchase

    wm_s = q.recentProgress[-1]["eventTime"]["watermark"]
    wm = datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")
    margin = timedelta(seconds=1)
    due = {
        pid
        for pid, ts in b_null_purchases.items()
        if ts < wm - margin
    }
    not_yet = {
        pid
        for pid, ts in b_null_purchases.items()
        if ts > wm + margin
    }
    assert due, "fixture left no purchase past the watermark"
    assert due <= s_nulls
    assert not (not_yet & s_nulls), (
        "null rows emitted for purchases whose window is still open"
    )


def test_full_outer_join_matches_batch_ledger(spark, landed_events):
    """Full-outer stream-stream join (round 9) completes the matrix:
    matches equal batch exactly; every emitted one-sided row is a
    genuine batch orphan of the right kind; every orphan whose proof
    point (view horizon close / purchase timestamp) passed the final
    watermark has emitted."""
    from datetime import datetime, timedelta

    batch = joins.conversion_join_full_outer(
        load(spark, SF_DIR_SMOKE, "events")
    ).collect()
    b_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in batch
        if r.converted and r.attributed
    }
    b_view_orphans = {
        r.view_id: r.view_ts for r in batch if not r.converted
    }
    b_purch_orphans = {
        r.purchase_id: r.purchase_ts for r in batch if not r.attributed
    }
    assert b_matched and b_view_orphans and b_purch_orphans

    # the ledger reconciles: batch full-outer rows = matches + both
    # orphan sets, and the totals cover every view and purchase
    ev = load(spark, SF_DIR_SMOKE, "events")
    n_views = ev.filter(F.col("event_type") == "view").count()
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len(batch) == len(b_matched) + len(b_view_orphans) + len(
        b_purch_orphans
    )
    assert len({r.view_id for r in batch if r.view_id is not None}) == n_views
    assert (
        len({r.purchase_id for r in batch if r.purchase_id is not None})
        == n_purch
    )

    q = joins.run_join_variant_to_memory(
        spark, landed_events, "conv_full_test",
        joins.conversion_join_full_outer,
    )
    out = spark.table("conv_full_test").collect()
    s_matched = {
        (r.user_id, r.view_id, r.purchase_id, r.us_to_convert)
        for r in out
        if r.converted and r.attributed
    }
    s_view_orphans = {r.view_id for r in out if not r.converted}
    s_purch_orphans = {r.purchase_id for r in out if not r.attributed}
    assert s_matched == b_matched
    assert s_view_orphans <= set(b_view_orphans)
    assert s_purch_orphans <= set(b_purch_orphans)

    wm_s = q.recentProgress[-1]["eventTime"]["watermark"]
    wm = datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")
    horizon = timedelta(minutes=joins.CONVERSION_HORIZON_MIN)
    margin = timedelta(seconds=1)
    due_views = {
        vid
        for vid, ts in b_view_orphans.items()
        if ts + horizon < wm - margin
    }
    due_purch = {
        pid for pid, ts in b_purch_orphans.items() if ts < wm - margin
    }
    assert due_views and due_purch, "vacuous watermark pin"
    assert due_views <= s_view_orphans
    assert due_purch <= s_purch_orphans
