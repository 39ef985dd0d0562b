"""Streaming LOCF gap-fill: dense-grid parity with a batch replay,
cross-batch gap bridging, and late-data drop semantics."""

import datetime as dt
import os
import shutil
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import gbfs
from bike_analyzer_spark.streaming import ingest as st_ingest
from bike_analyzer_spark.streaming.drain import drain
from bike_analyzer_spark.streaming.gapfillstream import (
    STEP_MIN,
    streaming_gapfill,
)


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/sgf-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _land(spark, landing, polls):
    """polls: list of (minute_offset, {station: bikes}) — one parquet
    file (= one micro-batch) each."""
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    for minutes, by_station in polls:
        ss = {"data": {"stations": [
            {"station_id": s, "num_bikes_available": v}
            for s, v in by_station.items()]}}
        gbfs.status_df(spark, ss, t0 + dt.timedelta(minutes=minutes)) \
            .write.mode("append").parquet(landing)
    return t0


def _run(spark, landing):
    name = f"gapfill_{uuid.uuid4().hex[:6]}"
    drain(
        streaming_gapfill(st_ingest.status_stream(spark, landing)),
        table=name,
    )
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_matches_batch_locf_grid(spark, tdir):
    """Streaming output == batch dense grid + LOCF over the same
    landed polls; the 15:05→15:25 hole for s1 spans MICRO-BATCH
    boundaries, so bridging it proves cross-batch state."""
    landing = os.path.join(tdir, "landing")
    _land(spark, landing, [
        (0, {"s1": 4, "s2": 7}),
        (5, {"s1": 9}),
        (25, {"s1": 2, "s2": 11}),
        (30, {"s2": 6}),
    ])
    got = {(r.station_id, r.bucket): (r.num_bikes_available, r.filled)
           for r in _run(spark, landing)}

    # batch replay: per-station dense 5-min grid, LOCF via last()
    batch = (
        spark.read.parquet(landing)
        .withColumn(
            "bucket",
            F.timestamp_seconds(
                F.expr(f"unix_timestamp(scraped_at) div {STEP_MIN * 60}")
                * (STEP_MIN * 60)
            ),
        )
        .groupBy("station_id", "bucket")
        .agg(F.last("num_bikes_available").alias("v"))
    )
    bounds = batch.groupBy("station_id").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    grid = bounds.select(
        "station_id",
        F.explode(F.sequence(
            "mn", "mx", F.expr(f"INTERVAL {STEP_MIN} MINUTES"))
        ).alias("bucket"))
    w = (Window.partitionBy("station_id").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    expected = {
        (r.station_id, r.bucket): (r.locf, r.filled)
        for r in grid.join(batch, ["station_id", "bucket"], "left")
        .withColumn("locf", F.last("v", ignorenulls=True).over(w))
        .withColumn("filled", F.col("v").isNull())
        .collect()
    }
    assert got == expected
    # the hole really exists and was filled: s1 at 15:10..15:20
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    for m in (10, 15, 20):
        assert got[("s1", t0 + dt.timedelta(minutes=m))] == (9, True)
    # observed rows pass through unfilled
    assert got[("s1", t0 + dt.timedelta(minutes=25))] == (2, False)
    # s2's grid is independent of s1's (per-key state)
    assert ("s2", t0 + dt.timedelta(minutes=35)) not in got
    assert got[("s2", t0 + dt.timedelta(minutes=20))] == (7, True)


def test_late_poll_is_dropped_not_retracted(spark, tdir):
    """A poll whose bucket the grid already passed must vanish: the
    fills were emitted and append mode cannot retract them."""
    landing = os.path.join(tdir, "landing")
    t0 = _land(spark, landing, [
        (0, {"s1": 4}),
        (15, {"s1": 8}),
        (5, {"s1": 99}),   # arrives AFTER the 15:15 poll — late
    ])
    rows = _run(spark, landing)
    by_bucket = {r.bucket: (r.num_bikes_available, r.filled)
                 for r in rows}
    assert len(rows) == len(by_bucket) == 4  # 15:00,:05,:10,:15 once
    assert by_bucket[t0 + dt.timedelta(minutes=5)] == (4, True)
    assert not any(r.num_bikes_available == 99 for r in rows)


def test_replay_is_deterministic(spark, tdir):
    """Pure function of the input stream: a fresh run over the same
    landing dir yields the identical row set (no wall-clock timers
    involved)."""
    landing = os.path.join(tdir, "landing")
    _land(spark, landing, [
        (0, {"s1": 4}), (20, {"s1": 6}), (35, {"s1": 1}),
    ])
    first = sorted(map(tuple, _run(spark, landing)))
    second = sorted(map(tuple, _run(spark, landing)))
    assert first == second and len(first) == 8
