"""Streaming sessionization parity (SURVEY §2.9): the batch
session_window_stats aggregation run as a Structured Streaming query
over the file-replay source with a watermark, equal to the batch
result.

Empirically pinned semantics (Spark 4.1): an availableNow drain in
append mode runs a final flush batch after the last file, so every
session whose close precedes the final watermark IS emitted; sessions
still open relative to the watermark are NOT (the far-future sentinel
user's own session stays in state). Complete mode emits everything.
"""

import datetime as dt
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.operators.asof import session_window_agg
from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import sessions as ssn
from bike_analyzer_spark.streaming.drain import drain, file_stream

SF_DIR = "/root/testdata/sf0.001"
SENTINEL_USER = -1


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/sess-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def landing(spark, tdir):
    """Land sf0.001 events as 3 chronological files (one micro-batch
    each) plus a far-future sentinel event for user -1: once the
    sentinel batch lands, the watermark has passed every real session,
    so append mode must emit them all — and must NOT emit the
    sentinel's still-open session."""
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    parts = [
        ev.filter(F.col("ts") < F.lit(cut1)),
        ev.filter((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2))),
        ev.filter(F.col("ts") >= F.lit(cut2)),
        spark.createDataFrame(
            [(SENTINEL_USER, hi + dt.timedelta(days=10), 0.0)],
            schema=ev.schema,
        ),
    ]
    ldir = os.path.join(tdir, "landing")
    os.makedirs(ldir)
    for i, p in enumerate(parts):
        staging = os.path.join(tdir, f"stage{i}")
        p.coalesce(1).write.mode("overwrite").parquet(staging)
        part_file = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        dst = os.path.join(ldir, f"{i:02d}.parquet")
        shutil.copy(os.path.join(staging, part_file), dst)
        # the file source replays in modification-time order
        t = time.time() - 1000 + i * 10
        os.utime(dst, (t, t))
    return ldir, ev.schema


def _batch_real(spark, ldir, schema):
    return {
        tuple(r)
        for r in session_window_agg(spark.read.schema(schema).parquet(ldir))
        .filter(F.col("user_id") != SENTINEL_USER)
        .collect()
    }


def test_append_emits_exactly_watermark_closed_sessions(spark, landing):
    ldir, schema = landing
    name = f"sess_append_{uuid.uuid4().hex[:6]}"
    ssn.run_sessions_to_memory(
        ssn.session_stream(file_stream(spark, schema, ldir)),
        name,
        mode="append",
    )
    emitted = spark.sql(f"SELECT * FROM {name}").collect()
    # the sentinel session is still open relative to the watermark
    assert all(r.user_id != SENTINEL_USER for r in emitted)
    assert {tuple(r) for r in emitted} == _batch_real(spark, ldir, schema)


def test_complete_mode_full_parity(spark, landing):
    ldir, schema = landing
    name = f"sess_complete_{uuid.uuid4().hex[:6]}"
    ssn.run_sessions_to_memory(
        ssn.session_stream(file_stream(spark, schema, ldir)),
        name,
        mode="complete",
    )
    got = {
        tuple(r)
        for r in spark.sql(f"SELECT * FROM {name}")
        .filter(F.col("user_id") != SENTINEL_USER)
        .collect()
    }
    assert got == _batch_real(spark, ldir, schema)


def test_rocksdb_state_store_parity_and_telemetry(spark, landing):
    """The RocksDB state backend (streaming/statestore.py): the same
    session drain under RocksDB + changelog checkpointing must emit
    the identical result set (state semantics are provider-
    independent), the query's state-operator telemetry must carry
    RocksDB's own metrics (proving the provider actually engaged,
    not silently fell back), and the session conf must be restored
    after the context exits."""
    from bike_analyzer_spark.streaming.statestore import (
        PROVIDER_CONF,
        rocksdb_state,
    )

    ldir, schema = landing
    prev = spark.conf.get(PROVIDER_CONF, None)
    name = f"sess_rocks_{uuid.uuid4().hex[:6]}"
    with rocksdb_state(spark):
        q = drain(
            ssn.session_stream(file_stream(spark, schema, ldir)),
            table=name,
        )
    emitted = spark.sql(f"SELECT * FROM {name}").collect()
    assert {tuple(r) for r in emitted} == _batch_real(spark, ldir, schema)
    metrics = q.recentProgress[-1]["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in metrics), metrics.keys()
    assert spark.conf.get(PROVIDER_CONF, None) == prev  # restored
