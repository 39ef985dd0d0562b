"""Streaming batch/stream parity + geocode enrichment with cache."""

import datetime as dt
import os, shutil, uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import enrich, gbfs
from bike_analyzer_spark import streaming
from bike_analyzer_spark.streaming.drain import drain

@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/st-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)

def _status_batch(spark, ts, bikes):
    ss = {"data": {"stations": [
        {"station_id": "s1", "num_bikes_available": bikes},
        {"station_id": "s2", "num_bikes_available": bikes + 1},
    ]}}
    return gbfs.status_df(spark, ss, ts)

def test_stream_matches_batch(spark, tdir):
    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    for i in range(3):
        _status_batch(spark, t0 + dt.timedelta(minutes=5 * i), 4 + i) \
            .write.mode("append").parquet(landing)
    name = f"winavg_{uuid.uuid4().hex[:6]}"
    streaming.run_to_memory(
        streaming.windowed_avg(streaming.status_stream(spark, landing)), name)
    got = {(r.bucket_start, r.station_id): r.avg_bikes
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    batch = {(r.bucket_start, r.station_id): r.avg_bikes
             for r in streaming.windowed_avg(spark.read.parquet(landing)).collect()}
    assert got == batch and len(got) == 4  # 2 windows x 2 stations

def test_foreach_batch_upsert_keeps_latest(spark, tdir):
    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    for i in range(3):
        _status_batch(spark, t0 + dt.timedelta(minutes=5 * i), 4 + i) \
            .write.mode("append").parquet(landing)
    target = os.path.join(tdir, "latest.parquet")
    streaming.foreach_batch_upsert(
        spark, streaming.status_stream(spark, landing),
        target, os.path.join(tdir, "ckpt"))
    rows = {r.station_id: (r.num_bikes_available, r.scraped_at)
            for r in spark.read.parquet(target).collect()}
    assert rows["s1"] == (6, t0 + dt.timedelta(minutes=10))
    assert rows["s2"][0] == 7 and len(rows) == 2

def test_poll_drain_runs_at_most_two_jobs(spark, tdir):
    """One landed poll = one micro-batch = one merge_upsert; its jobs
    run in the stream's job group (the run id), read by statusTracker."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    landing = os.path.join(tdir, "landing")
    target = os.path.join(tdir, "latest.parquet")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    runs = RunIds()
    spark.streams.addListener(runs)
    try:
        for i in range(2):
            _status_batch(spark, t0 + dt.timedelta(minutes=5 * i), 4 + i) \
                .coalesce(1).write.mode("append").parquet(landing)
            streaming.foreach_batch_upsert(
                spark, streaming.status_stream(spark, landing),
                target, os.path.join(tdir, "ckpt"))
    finally:
        spark.streams.removeListener(runs)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    jobs = [len(tracker.getJobIdsForGroup(r)) for r in runs.ids]
    assert len(jobs) == 2 and all(0 < j <= 2 for j in jobs), jobs
    assert spark.read.parquet(target).count() == 2

def _fake_geocoder(lat, lon):
    if lat is None or lat < -40:
        raise ValueError("boom")
    return {"suburb": f"bairro-{round(lon, 2)}"}

def test_geocode_and_cache(spark, tdir):
    stations = spark.createDataFrame(
        [("s1", -30.03, -51.21), ("s2", -30.05, -51.23),
         ("s3", -45.0, -51.0),  # geocoder raises -> NULL bairro
         ("s4", None, -51.0)],  # no coords -> dropped (P1 filter)
        "station_id string, lat double, lon double")
    cache = os.path.join(tdir, "bairros.csv")
    out = enrich.cached_geocode(spark, stations, cache, _fake_geocoder)
    rows = {r.station_id: r.bairro for r in out.collect()}
    assert rows == {"s1": "bairro--51.21", "s2": "bairro--51.23", "s3": None}
    # cache hit: a geocoder that always raises must NOT be called
    def explode_geocoder(lat, lon):
        raise AssertionError("geocoder called despite cache")
    out2 = enrich.cached_geocode(spark, stations, cache, explode_geocoder)
    assert {r.station_id: r.bairro for r in out2.collect()} == rows

def test_extract_bairro_first_non_null():
    assert enrich.extract_bairro({"district": "D", "suburb": "S"}) == "S"
    assert enrich.extract_bairro({"district": "D"}) == "D"
    assert enrich.extract_bairro({}) is None
    assert enrich.extract_bairro(None) is None

def test_stream_static_join(spark, tdir):
    """Stream-static join: streaming status enriched with a static
    stations dimension (the streaming face of J2)."""
    import datetime as dt
    from bike_analyzer_spark.sources import gbfs as g
    landing = os.path.join(tdir, "landing2")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    _status_batch(spark, t0, 4).write.mode("append").parquet(landing)
    static = spark.createDataFrame(
        [("s1", "Praça A", 12), ("s2", "Praça B", 20)],
        "station_id string, name string, capacity int")
    stream = streaming.status_stream(spark, landing)
    joined = stream.join(static, "station_id").selectExpr(
        "station_id", "name", "num_bikes_available", "capacity")
    name = f"ssj_{uuid.uuid4().hex[:6]}"
    drain(joined, table=name)
    rows = {r.station_id: (r.name, r.num_bikes_available, r.capacity)
            for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows == {"s1": ("Praça A", 4, 12), "s2": ("Praça B", 5, 20)}

def test_dedup_stream_drops_cross_batch_duplicates(spark, tdir):
    """The same (station_id, scraped_at) snapshot landed twice in
    DIFFERENT micro-batches must survive only once — the reference's
    PK-upsert idempotency via dropDuplicatesWithinWatermark. Parity:
    equals batch dropDuplicates over the same landing."""
    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    batches = [
        _status_batch(spark, t0, 4),
        _status_batch(spark, t0, 4),  # exact duplicate batch
        _status_batch(spark, t0 + dt.timedelta(minutes=5), 5),
    ]
    for b in batches:
        b.write.mode("append").parquet(landing)
    name = f"dedup_{uuid.uuid4().hex[:6]}"
    drain(
        streaming.dedup_stream(streaming.status_stream(spark, landing)),
        table=name,
    )
    got = sorted(
        (r.station_id, r.scraped_at, r.num_bikes_available)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    batch = sorted(
        (r.station_id, r.scraped_at, r.num_bikes_available)
        for r in spark.read.parquet(landing)
        .dropDuplicates(["station_id", "scraped_at"])
        .collect()
    )
    assert got == batch
    assert len(got) == 4  # 2 stations x 2 distinct timestamps

def test_sliding_stream_matches_batch(spark, tdir):
    """Sliding (overlapping) windows: each event lands in TWO
    10-minute/5-minute-slide windows; streaming totals equal the
    batch run of the same query over the same landed files."""
    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    for i in range(3):
        _status_batch(spark, t0 + dt.timedelta(minutes=5 * i), 4 + i) \
            .write.mode("append").parquet(landing)
    name = f"slideavg_{uuid.uuid4().hex[:6]}"
    streaming.run_to_memory(
        streaming.sliding_avg(streaming.status_stream(spark, landing)), name)
    got = {(r.bucket_start, r.station_id): r.avg_bikes
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    batch = {(r.bucket_start, r.station_id): r.avg_bikes
             for r in streaming.sliding_avg(spark.read.parquet(landing)).collect()}
    assert got == batch
    # 3 snapshots at :00 :05 :10 -> sliding starts :55,:00,:05,:10 x 2 stations
    assert len(got) == 8
    # overlap is real: the :05 window averages the :05 and :10 snapshots
    w05 = got[(t0 + dt.timedelta(minutes=5), "s1")]
    assert w05 == pytest.approx((5 + 6) / 2)
