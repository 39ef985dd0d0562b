"""The `gbfs` Python DataSource (Spark 4 connector API): landed
snapshot directories scan partition-parallel with executor-side
parsing, equal row-for-row to the driver-side payload path (the two
share the row builders — the parity test pins it end-to-end through
Spark anyway)."""

import copy
import datetime as dt
import json
import os
import shutil
import uuid

import pytest

from bike_analyzer_spark.sources import gbfs
from bike_analyzer_spark.sources.gbfs_datasource import GbfsDataSource
from bike_analyzer_spark.streaming.drain import drain as stream_drain
from tests.test_sources import SI, SS


@pytest.fixture()
def landing():
    d = f"/root/repo/.pytest_cache/gbfs-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _land_snapshots(landing, base, n, key):
    """n snapshot files, each a shifted copy (distinct timestamps and
    a per-snapshot station count difference so files are told apart)."""
    payloads = []
    for i in range(n):
        p = copy.deepcopy(base)
        p["last_updated"] = base.get("last_updated", 1756998511) + 60 * i
        for st in p["data"]["stations"]:
            if key in st:
                st[key] = st[key] + i
        path = os.path.join(landing, f"{i:04d}.json")
        with open(path, "w") as f:
            json.dump(p, f)
        payloads.append(p)
    return payloads


def test_station_information_scan_matches_driver_path(spark, landing):
    payloads = _land_snapshots(landing, SI, 3, "capacity")
    spark.dataSource.register(GbfsDataSource)
    df = (
        spark.read.format("gbfs")
        .option("path", landing)
        .option("feed", "station_information")
        .load()
    )
    # one partition per snapshot file — the parse parallelism claim
    assert df.rdd.getNumPartitions() == 3
    want = []
    for p in payloads:
        want += [tuple(r) for r in gbfs.stations_df(spark, p).collect()]
    got = [tuple(r) for r in df.collect()]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_station_status_scan_matches_driver_path(spark, landing):
    base = dict(SS)
    base["last_updated"] = 1756998600
    payloads = _land_snapshots(landing, base, 2, "num_bikes_available")
    spark.dataSource.register(GbfsDataSource)
    df = (
        spark.read.format("gbfs")
        .option("path", landing)
        .option("feed", "station_status")
        .load()
    )
    want = []
    for p in payloads:
        scraped = dt.datetime.fromtimestamp(p["last_updated"], tz=dt.timezone.utc).replace(tzinfo=None)
        want += [
            tuple(r) for r in gbfs.status_df(spark, p, scraped).collect()
        ]
    got = [tuple(r) for r in df.collect()]
    assert sorted(got, key=str) == sorted(want, key=str)
    # schema is the pinned one, not inferred
    from bike_analyzer_spark.schemas import STATION_STATUS

    assert df.schema == STATION_STATUS


def test_bad_feed_and_missing_path_fail_loudly(spark, landing):
    spark.dataSource.register(GbfsDataSource)
    with pytest.raises(Exception, match="unknown feed"):
        (
            spark.read.format("gbfs")
            .option("path", landing)
            .option("feed", "nope")
            .load()
        )
    with pytest.raises(Exception, match="no \\*\\.json"):
        (
            spark.read.format("gbfs")
            .option("path", landing)  # empty dir
            .load()
            .collect()
        )


def test_streaming_reader_tails_new_snapshots_incrementally(
    spark, landing
):
    """The `gbfs` STREAMING side: an availableNow drain consumes the
    landed snapshots; snapshots landed AFTER that drain are picked up
    by the next one (the file-name high-water-mark offset advances),
    and nothing is double-read — exactly-once per snapshot across
    restarts of the same checkpoint."""
    import copy as _copy

    ckpt = os.path.join(landing, "_ckpt")
    out = os.path.join(landing, "_out")
    lzone = os.path.join(landing, "zone")
    os.makedirs(lzone)
    _land_snapshots(lzone, SI, 2, "capacity")
    spark.dataSource.register(GbfsDataSource)

    def drain():
        # parquet sink: a memory sink cannot RESUME from a
        # checkpoint, and resumability is the thing under test
        stream_drain(
            spark.readStream.format("gbfs")
            .option("path", lzone)
            .option("feed", "station_information")
            .load(),
            path=out,
            checkpoint=ckpt,
        )
        return spark.read.parquet(out).collect()

    first = drain()
    assert len(first) == 4  # 2 snapshots x 2 stations

    # a third snapshot lands later (name sorts AFTER the first two)
    p3 = _copy.deepcopy(SI)
    p3["last_updated"] = SI["last_updated"] + 999
    with open(os.path.join(lzone, "9999.json"), "w") as f:
        json.dump(p3, f)
    second = drain()
    # the SECOND drain resumed the checkpoint: total output grows by
    # exactly the new snapshot's rows — no re-read of consumed files
    assert len(second) == 6
    new_rows = [
        r
        for r in second
        if r.last_updated
        == dt.datetime.fromtimestamp(p3["last_updated"], tz=dt.timezone.utc).replace(tzinfo=None)
    ]
    assert len(new_rows) == 2


def test_streaming_reader_fails_loudly_on_behind_watermark_snapshot(
    spark, landing
):
    """A snapshot whose NAME sorts below the committed high-water
    mark would silently never be read (at-most-once) — the reader
    must detect the broken sortable-names contract and fail the
    query loudly instead."""
    import copy as _copy

    ckpt = os.path.join(landing, "_ckpt")
    out = os.path.join(landing, "_out")
    lzone = os.path.join(landing, "zone")
    os.makedirs(lzone)
    _land_snapshots(lzone, SI, 2, "capacity")
    spark.dataSource.register(GbfsDataSource)

    def drain():
        stream_drain(
            spark.readStream.format("gbfs")
            .option("path", lzone)
            .option("feed", "station_information")
            .load(),
            path=out,
            checkpoint=ckpt,
        )

    drain()  # watermark now '0001.json'
    bad = _copy.deepcopy(SI)
    with open(os.path.join(lzone, "0000a.json"), "w") as f:
        json.dump(bad, f)  # '0000a.json' < '0001.json'
    with pytest.raises(Exception, match="BEHIND the committed"):
        drain()
