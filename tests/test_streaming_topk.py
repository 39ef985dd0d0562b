"""Space-saving heavy hitters: the classic sketch guarantees hold
against exact batch counts, cross-batch state accumulates, and a
scalar replay reproduces the stream output exactly."""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import topk
from bike_analyzer_spark.streaming.drain import drain
from bike_analyzer_spark.streaming.joins import events_stream
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/topk-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, landing):
    name = f"hh_{uuid.uuid4().hex[:6]}"
    drain(
        topk.streaming_heavy_hitters(events_stream(spark, landing)),
        table=name,
    )
    return spark.sql(f"SELECT * FROM {name}")


def test_guarantees_vs_exact_counts(spark, tdir):
    landing = os.path.join(tdir, "landing")
    (
        load(spark, SF_DIR_SMOKE, "events")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(landing)
    )
    summaries = _drain(spark, landing)
    from pyspark.sql import Window

    final = {
        (r.shard, r.item): (r.est, r.err)
        for r in summaries.withColumn(
            "_m", F.max("revision").over(Window.partitionBy("shard"))
        )
        .where("revision = _m")
        .collect()
    }
    truth = {
        (r.shard, r.item): r.n
        for r in spark.read.parquet(landing)
        .selectExpr(
            f"pmod(hash(user_id), {topk.HASH_SHARDS}) AS shard",
            "user_id AS item",
        )
        .groupBy("shard", "item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    shard_n = {}
    for (s, _), n in truth.items():
        shard_n[s] = shard_n.get(s, 0) + n
    assert len(final) > 0
    for (s, i), (est, err) in final.items():
        true = truth.get((s, i), 0)
        assert est >= true, "space-saving must never undercount"
        assert est - err <= true, "overcount must be bounded by err"
        assert err <= shard_n[s] // topk.CAPACITY + 1
    # completeness: every item heavier than N_shard/CAPACITY survives
    for (s, i), n in truth.items():
        if n > shard_n[s] / topk.CAPACITY:
            assert (s, i) in final, f"heavy item {i} missing from shard {s}"
    # read-side top-k is consistent with the final summaries
    got_topk = topk.current_top_k(summaries, k=5).collect()
    assert [r.item for r in got_topk] == [
        i
        for _, i in sorted(
            ((-est, i) for (_, i), (est, _) in final.items())
        )[:5]
    ]


def test_stream_matches_scalar_replay(spark, tdir):
    """Replaying the same shard's rows through a scalar space-saving
    in plain Python yields the identical final summary — the stream
    adds distribution, not different arithmetic."""
    landing = os.path.join(tdir, "landing")
    (
        load(spark, SF_DIR_SMOKE, "events")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(landing)
    )
    summaries = _drain(spark, landing)
    import glob

    # scalar replay must see rows in the SAME order the stream did:
    # file landing order (one file per micro-batch), then (ts,
    # event_id) within each file
    files = sorted(
        glob.glob(f"{landing}/part-*.parquet"),
        key=lambda f: (os.path.getmtime(f), f),
    )
    tables = {}
    for f in files:
        rows = (
            spark.read.parquet(f)
            .selectExpr(
                f"pmod(hash(user_id), {topk.HASH_SHARDS}) AS shard",
                "ts",
                "event_id",
                "user_id AS item",
            )
            .orderBy("ts", "event_id")
            .collect()
        )
        for r in rows:
            t = tables.setdefault(r.shard, {})
            if r.item in t:
                t[r.item][0] += 1
            elif len(t) < topk.CAPACITY:
                t[r.item] = [1, 0]
            else:
                ev = min(
                    t.items(), key=lambda kv: (kv[1][0], kv[1][1], kv[0])
                )
                cnt = ev[1][0]
                del t[ev[0]]
                t[r.item] = [cnt + 1, cnt]
    want = {
        (s, i): (c, e)
        for s, t in tables.items()
        for i, (c, e) in t.items()
    }
    from pyspark.sql import Window

    final = {
        (r.shard, r.item): (r.est, r.err)
        for r in summaries.withColumn(
            "_m", F.max("revision").over(Window.partitionBy("shard"))
        )
        .where("revision = _m")
        .collect()
    }
    assert final == want
