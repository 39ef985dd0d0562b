"""Streaming-serve batch twins (operators/streamserve.py): the
driver-gated batch queries and the REAL streaming surfaces they twin
must agree — the lateness audit row-for-row when buckets land as
ordered files, and the space-saving serve in the no-eviction regime
where the sketch is exact."""

import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.operators.streamserve import (
    ABSENT,
    JITTER_MOD,
    audit_frame,
    heavy_hitters_serve,
)
from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import topk
from bike_analyzer_spark.streaming.drain import drain
from bike_analyzer_spark.streaming.joins import events_stream
from bike_analyzer_spark.streaming.lateaudit import (
    run_late_audit_to_parquet,
    serve_late_audit,
)
from tests.conftest import SF_DIR_SMOKE

DAY_US = 24 * 3600 * 1_000_000


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/streamserve-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _bucketed(spark, bucket_us, step_us):
    """Smoke events under the twin's jitter skew model, bucketed at
    the given width. The test uses DAY buckets (landed file count
    stays streaming-test-sized; the driver query uses hours) with
    the jitter step scaled to 6 h so the skew spans bucket
    boundaries — at the query's 15-min step no sf0.001 row crosses
    a day boundary by more than the allowance and every n_late is
    trivially zero."""
    return load(spark, SF_DIR_SMOKE, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(
            f"(unix_micros(ts) + (event_id % {JITTER_MOD})"
            f" * {step_us}) div {bucket_us}"
        ).alias("bucket"),
    )


def test_late_audit_batch_twin_matches_stream(spark, tdir):
    """Landing one file per arrival bucket, in bucket order, the
    streaming audit's per-batch rows equal the batch twin's
    per-bucket rows exactly (n_rows, min/max event time, prior
    high-water mark, late count)."""
    ev = _bucketed(spark, DAY_US, 6 * 3600 * 1_000_000)
    batch = audit_frame(ev.select("bucket", "us")).collect()
    assert sum(r.n_late for r in batch) > 0, (
        "degenerate fixture: the jitter model must produce some "
        "late rows or the parity proves nothing"
    )

    landing = os.path.join(tdir, "landing")
    buckets = [r.bucket for r in batch]  # already bucket-ascending
    t0 = time.time() - 2 * len(buckets) - 10
    seen: set = set()
    for i, b in enumerate(buckets):
        (
            ev.where(F.col("bucket") == b)
            .select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(landing)
        )
        # file-source batch order is (modificationTime, path): stamp
        # each shard with a strictly increasing mtime
        for root, _, files in os.walk(landing):
            for fn in files:
                p = os.path.join(root, fn)
                if p not in seen and fn.endswith(".parquet"):
                    os.utime(p, (t0 + 2 * i, t0 + 2 * i))
                    seen.add(p)

    out, ckpt = os.path.join(tdir, "audit"), os.path.join(tdir, "ck")
    run_late_audit_to_parquet(spark, landing, out, ckpt)
    stream = serve_late_audit(spark, out).collect()  # batch_id asc
    assert len(stream) == len(batch)
    for s, b in zip(stream, batch):
        prior = ABSENT if s.prior_hwm_us is None else s.prior_hwm_us
        assert (s.n_rows, s.min_us, s.max_us, prior, s.n_late) == (
            b.n_rows,
            b.min_us,
            b.max_us,
            b.prior_hwm_us,
            b.n_late,
        ), f"bucket {b.bucket} (batch {s.batch_id}) diverged"


def test_heavy_hitters_serve_matches_stream_no_eviction(spark, tdir):
    """With <= CAPACITY distinct items per shard the space-saving
    sketch is exact (no eviction ever fires), so the REAL stream's
    serve and the batch twin's exact-count serve must return the
    same top-k — sharding scheme (murmur hash vs mod) cannot matter
    when every item survives."""
    sf_twin = os.path.join(tdir, "sf")
    ev = load(spark, SF_DIR_SMOKE, "events").where(
        F.col("user_id") < topk.CAPACITY
    )
    ev.write.mode("overwrite").parquet(os.path.join(sf_twin, "events.parquet"))

    landing = os.path.join(tdir, "landing")
    ev.repartition(2).write.mode("overwrite").parquet(landing)
    name = f"hhserve_{uuid.uuid4().hex[:6]}"
    drain(
        topk.streaming_heavy_hitters(events_stream(spark, landing)),
        table=name,
    )
    got_stream = [
        (r.item, r.est, r.err)
        for r in topk.current_top_k(spark.sql(f"SELECT * FROM {name}")
                                    ).collect()
    ]
    got_batch = [
        (r.item, r.est, r.err)
        for r in heavy_hitters_serve(spark, sf_twin).collect()
    ]
    assert len(got_batch) > 0
    assert got_stream == got_batch


def test_heavy_hitters_stream_bounds_under_eviction(spark, tdir):
    """The eviction regime the no-eviction parity test can't reach
    (r11 ADVICE): a skewed fixture with far more distinct items per
    murmur shard than CAPACITY forces space-saving evictions, and
    the REAL stream's serve is then checked against exact GLOBAL
    counts (per-item truth is sharding-independent, so the
    murmur-vs-mod sharding difference between the stream and the
    batch twin cannot hide an error) via the documented bounds:
    no undercount, overcount within err, err within N_shard/CAPACITY
    under the stream's OWN murmur sharding, and every sufficiently
    heavy item served."""
    # 6 heavy users (IDs spread across murmur shards) with 60 events
    # each + 120 light users with 1 event: >> CAPACITY distinct items
    # per shard, so eviction fires on every shard.
    rows = []
    eid = 0
    for u in range(6):
        for _ in range(60):
            rows.append((eid, u, eid * 1_000_000))
            eid += 1
    for u in range(1000, 1120):
        rows.append((eid, u, eid * 1_000_000))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, us long"
    ).selectExpr("event_id", "user_id", "timestamp_micros(us) AS ts")
    landing = os.path.join(tdir, "landing")
    ev.repartition(3).write.mode("overwrite").parquet(landing)

    # distinct-per-shard must exceed CAPACITY or this test is the
    # no-eviction regime again
    per_shard = (
        ev.selectExpr(
            f"pmod(hash(user_id), {topk.HASH_SHARDS}) AS shard", "user_id"
        )
        .distinct()
        .groupBy("shard")
        .count()
        .collect()
    )
    assert all(r["count"] > topk.CAPACITY for r in per_shard), per_shard

    name = f"hhevict_{uuid.uuid4().hex[:6]}"
    drain(
        topk.streaming_heavy_hitters(events_stream(spark, landing)),
        table=name,
    )
    served = topk.current_top_k(
        spark.sql(f"SELECT * FROM {name}"), k=10
    ).collect()
    assert served, "serve returned nothing"

    truth = {
        r.user_id: r.n
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    shard_n = {
        r.shard: r.n
        for r in ev.selectExpr(
            f"pmod(hash(user_id), {topk.HASH_SHARDS}) AS shard"
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    shard_of = {
        r.user_id: r.shard
        for r in ev.selectExpr(
            "user_id", f"pmod(hash(user_id), {topk.HASH_SHARDS}) AS shard"
        )
        .distinct()
        .collect()
    }
    evicted_err = [r for r in served if r.err > 0]
    for r in served:
        true = truth.get(r.item, 0)
        assert r.est >= true, "space-saving must never undercount"
        assert r.est - r.err <= true, "overcount must be bounded by err"
        assert r.err <= shard_n[shard_of[r.item]] // topk.CAPACITY + 1
    # completeness: every heavy user (true count 60, far above any
    # shard's N/CAPACITY here) must be served in the top-10
    served_items = {r.item for r in served}
    for u in range(6):
        assert u in served_items, f"heavy user {u} missing from serve"
    # and the fixture genuinely exercised eviction error accounting:
    # at least one served light-tail row carries nonzero err
    assert evicted_err or all(
        truth.get(r.item, 0) == r.est for r in served
    ), served
