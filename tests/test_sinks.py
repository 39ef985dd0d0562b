import os, shutil, uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import sinks

@pytest.fixture()
def tmpdir_repo():
    d = f"/root/repo/.pytest_cache/sinks-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)

def _stations(spark, rows):
    return spark.createDataFrame(
        rows, "station_id string, name string, capacity int, last_updated long"
    )

def test_merge_upsert_idempotent(spark, tmpdir_repo):
    p = os.path.join(tmpdir_repo, "stations.parquet")
    b1 = _stations(spark, [("s1", "Alpha", 10, 100), ("s2", "Beta", 20, 100)])
    assert sinks.merge_upsert(spark, b1, p, ["station_id"], "last_updated") == 2
    # re-ingesting the same batch changes nothing (reference upsert
    # semantics, etl_gbfs.py:82-93)
    assert sinks.merge_upsert(spark, b1, p, ["station_id"], "last_updated") == 2
    got = {r.station_id: r.name for r in spark.read.parquet(p).collect()}
    assert got == {"s1": "Alpha", "s2": "Beta"}

def test_merge_upsert_keeps_newest(spark, tmpdir_repo):
    p = os.path.join(tmpdir_repo, "stations.parquet")
    sinks.merge_upsert(
        spark, _stations(spark, [("s1", "Old", 10, 100)]), p,
        ["station_id"], "last_updated")
    sinks.merge_upsert(
        spark, _stations(spark, [("s1", "New", 12, 200), ("s3", "Gamma", 5, 50)]),
        p, ["station_id"], "last_updated")
    got = {r.station_id: (r.name, r.capacity)
           for r in spark.read.parquet(p).collect()}
    assert got == {"s1": ("New", 12), "s3": ("Gamma", 5)}
    # stale update must NOT win
    sinks.merge_upsert(
        spark, _stations(spark, [("s1", "Stale", 1, 150)]), p,
        ["station_id"], "last_updated")
    got = {r.station_id: r.name for r in spark.read.parquet(p).collect()}
    assert got["s1"] == "New"

def test_append_partitioned(spark, tmpdir_repo):
    p = os.path.join(tmpdir_repo, "status.parquet")
    df = spark.createDataFrame(
        [("s1", 5, "2025-09-04T15:08:40"), ("s2", 7, "2025-09-05T01:00:00")],
        "station_id string, bikes int, scraped_at string",
    ).withColumn("scraped_at", F.to_timestamp("scraped_at"))
    sinks.append_partitioned(df, p, "scraped_at", batch_ts="2025-09-05 02:00:00")
    sinks.append_partitioned(df, p, "scraped_at", batch_ts="2025-09-05 03:00:00")
    back = spark.read.parquet(p)
    assert back.count() == 4
    assert sorted(os.listdir(p))[:1] == ["_SUCCESS"] or any(
        e.startswith("event_date=") for e in os.listdir(p))
    # partition pruning: a date filter must read only one partition dir
    one = back.filter(F.col("event_date") == "2025-09-04")
    assert one.count() == 2
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() == 2

def test_merge_upsert_recovers_from_crashed_swap(spark, tmpdir_repo):
    """Simulate a kill between the two swap renames: table gone,
    backup present — the next merge must restore history, not rebuild
    from the new batch alone."""
    p = os.path.join(tmpdir_repo, "stations.parquet")
    sinks.merge_upsert(
        spark, _stations(spark, [("s1", "Alpha", 10, 100)]), p,
        ["station_id"], "last_updated")
    os.rename(p, p + ".old")  # the exact mid-swap crash state
    n = sinks.merge_upsert(
        spark, _stations(spark, [("s2", "Beta", 20, 100)]), p,
        ["station_id"], "last_updated")
    assert n == 2
    got = {r.station_id for r in spark.read.parquet(p).collect()}
    assert got == {"s1", "s2"}


def _jobs_in_group(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by statusTracker in
    a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_upsert_empty_batch_is_a_noop(spark, tmpdir_repo):
    p = os.path.join(tmpdir_repo, "stations.parquet")
    empty = _stations(spark, [])

    def merge(df):
        return sinks.merge_upsert(spark, df, p, ["station_id"], "last_updated")

    # first-ever call: an empty table appears, so readers of the path
    # (gbfs.ingest_once, weather) find it even after an empty feed
    assert merge(empty) == 0
    assert spark.read.parquet(p).count() == 0
    assert not os.path.exists(p + ".staging")
    assert merge(_stations(spark, [("s1", "Alpha", 10, 100)])) == 1
    # later call: same count, same rows
    assert merge(empty) == 1
    assert [tuple(r) for r in spark.read.parquet(p).collect()] == [
        ("s1", "Alpha", 10, 100)
    ]


def test_merge_upsert_runs_at_most_two_jobs(spark, tmpdir_repo):
    """The row count rides the write (observed metrics): no re-read
    of the staged table."""
    p = os.path.join(tmpdir_repo, "stations.parquet")
    for rows, want in (
        ([("s1", "Alpha", 10, 100)], 1),
        ([("s1", "New", 12, 200), ("s2", "Beta", 20, 100)], 2),
        ([], 2),
    ):
        n, jobs = _jobs_in_group(
            spark,
            lambda: sinks.merge_upsert(
                spark, _stations(spark, rows), p, ["station_id"],
                "last_updated"),
        )
        assert n == want and jobs <= 2, (rows, n, jobs)

class TestShuffledShards:
    def test_deterministic_and_lossless(self, spark, tmp_path):
        from bike_analyzer_spark.sources import sinks
        from bike_analyzer_spark.sources.catalog import load
        from tests.conftest import SF_DIR_SMOKE

        src = load(spark, SF_DIR_SMOKE, "documents")
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        sinks.write_shuffled_shards(src, p1, 4)
        sinks.write_shuffled_shards(src, p2, 4)
        a = [r.doc_id for r in spark.read.parquet(p1).collect()]
        # lossless + schema unchanged
        assert sorted(a) == sorted(r.doc_id for r in src.collect())
        assert spark.read.parquet(p1).columns == src.columns
        # deterministic: same salt -> identical per-shard content and
        # order (part file names carry a per-job UUID, so compare the
        # rows of the k-th shard, not the file bytes)
        import os

        import pyarrow.parquet as papq

        def _shards(p):
            return [
                papq.read_table(os.path.join(p, f)).to_pylist()
                for f in sorted(
                    f for f in os.listdir(p) if f.endswith(".parquet")
                )
            ]

        s1, s2 = _shards(p1), _shards(p2)
        assert len(s1) == len(s2) == 4
        assert s1 == s2

    def test_salt_reshuffles_and_order_breaks_locality(self, spark, tmp_path):
        from bike_analyzer_spark.sources import sinks
        from bike_analyzer_spark.sources.catalog import load
        from tests.conftest import SF_DIR_SMOKE

        src = load(spark, SF_DIR_SMOKE, "documents")
        p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        sinks.write_shuffled_shards(src, p1, 4, salt="epoch1")
        sinks.write_shuffled_shards(src, p2, 4, salt="epoch2")
        a = [r.doc_id for r in spark.read.parquet(p1).collect()]
        b = [r.doc_id for r in spark.read.parquet(p2).collect()]
        assert a != b  # different epoch, different permutation
        # shuffled order must not preserve doc_id locality
        asc = sum(1 for x, y in zip(a, a[1:]) if y == x + 1)
        assert asc < len(a) // 10
