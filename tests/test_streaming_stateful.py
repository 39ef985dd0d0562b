"""Cross-batch stateful lag-delta: streaming deltas must equal the
batch window computation over the same landed data."""

import datetime as dt
import os, shutil, uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import gbfs
from bike_analyzer_spark.streaming import ingest as st_ingest
from bike_analyzer_spark.streaming.drain import drain
from bike_analyzer_spark.streaming.stateful import stateful_lag_delta

@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/sst-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)

def test_stateful_delta_matches_batch_window(spark, tdir):
    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    bikes = {"s1": [4, 9, 2], "s2": [7, 7, 11]}
    for i in range(3):
        ss = {"data": {"stations": [
            {"station_id": s, "num_bikes_available": v[i]}
            for s, v in bikes.items()]}}
        gbfs.status_df(spark, ss, t0 + dt.timedelta(minutes=5 * i)) \
            .write.mode("append").parquet(landing)

    stream = st_ingest.status_stream(spark, landing)  # 1 file per trigger
    name = f"deltas_{uuid.uuid4().hex[:6]}"
    drain(stateful_lag_delta(stream), table=name)
    got = {(r.station_id, r.scraped_at): r.delta
           for r in spark.sql(f"SELECT * FROM {name}").collect()}

    batch = spark.read.parquet(landing)
    w = Window.partitionBy("station_id").orderBy("scraped_at")
    expected = {
        (r.station_id, r.scraped_at): r.delta
        for r in batch.withColumn(
            "delta",
            F.coalesce(
                F.col("num_bikes_available")
                - F.lag("num_bikes_available").over(w), F.lit(0)).cast("int")
        ).collect()
    }
    assert got == expected and len(got) == 6
    # spot-check the cross-batch state: s1 9->2 spans two micro-batches
    assert got[("s1", t0 + dt.timedelta(minutes=10))] == -7


def test_stateful_anomaly_flags_spike_and_matches_scalar(spark, tdir):
    """EWMA z-score detector: a flat series with one spike flags
    exactly the spike, streaming output equals a scalar replay of
    the same recurrence (cross-batch state carries the baseline)."""
    from bike_analyzer_spark.streaming import stateful as sf

    landing = os.path.join(tdir, "landing")
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    series = [10, 11, 10, 9, 10, 11, 10, 50, 10, 11]   # spike at i=7
    for i, v in enumerate(series):
        ss = {"data": {"stations": [
            {"station_id": "s1", "num_bikes_available": v}]}}
        gbfs.status_df(spark, ss, t0 + dt.timedelta(minutes=5 * i)) \
            .write.mode("append").parquet(landing)

    stream = st_ingest.status_stream(spark, landing)
    name = f"anom_{uuid.uuid4().hex[:6]}"
    drain(sf.stateful_anomaly(stream), table=name)
    rows = sorted(
        spark.sql(f"SELECT * FROM {name}").collect(),
        key=lambda r: r.scraped_at,
    )
    assert [r.num_bikes_available for r in rows] == series
    flagged = [i for i, r in enumerate(rows) if r.anomaly]
    assert flagged == [7]                       # exactly the spike

    # scalar replay of the recurrence (score BEFORE update)
    mean, var, n = 0.0, 0.0, 0
    want_z = []
    for x in map(float, series):
        z = (x - mean) / var ** 0.5 if (n >= sf.WARMUP and var > 0) else 0.0
        want_z.append(z)
        if n == 0:
            mean = x
        else:
            d = x - mean
            mean += sf.ALPHA * d
            var = (1 - sf.ALPHA) * (var + sf.ALPHA * d * d)
        n += 1
    for r, wz in zip(rows, want_z):
        assert r.zscore == pytest.approx(wz)
