"""Date-partitioned events: the latest-hour access path must prune
partitions (the 100-TB answer to q1's full-scan shape)."""

import os, shutil, uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import catalog
from tests.conftest import SF_DIR_ORACLE

@pytest.fixture(scope="module")
def part_events(spark):
    d = f"/root/repo/.pytest_cache/pe-{uuid.uuid4().hex[:8]}"
    catalog.materialize_events_partitioned(spark, SF_DIR_ORACLE, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)

def test_partition_layout(part_events):
    dirs = [e for e in os.listdir(part_events) if e.startswith("event_date=")]
    assert len(dirs) == 30  # one per January day

def test_latest_day_prunes_to_one_partition(spark, part_events):
    ev = spark.read.parquet(part_events)
    latest_day = ev.agg(F.max("event_date")).first()[0]
    df = ev.filter(F.col("event_date") == F.lit(latest_day))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    # partition filter present, and the scan touches 1 of 30 partitions
    assert "PartitionFilters: [isnotnull(event_date" in scan
    assert df.rdd.getNumPartitions() <= 4
    n_sel = df.select(F.countDistinct("event_date")).first()[0]
    assert n_sel == 1

def test_pruned_latest_hour_matches_full_scan(spark, part_events):
    """q1 (now routed through the partitioned layout) must equal the
    same aggregation over the FLAT full-scan table."""
    ev = catalog.load(spark, SF_DIR_ORACLE, "events").withColumn(
        "h", F.date_trunc("hour", "ts")
    )
    latest = ev.agg(F.max("h").alias("h"))
    full = (
        ev.join(F.broadcast(latest), "h")
        .agg(F.countDistinct("user_id"), F.count(F.lit(1)))
        .first()
    )
    from bike_analyzer_spark.operators.kpi import q1_network_summary
    got = q1_network_summary(spark, SF_DIR_ORACLE).first()
    assert (full[0], full[1]) == (got.active_users, got.n_events)


def test_latest_event_date_matches_data_max(spark, part_events):
    """The listing-derived latest partition equals the data max."""
    catalog.events_partitioned(spark, SF_DIR_ORACLE)  # ensure cache
    listed = catalog.latest_event_date(SF_DIR_ORACLE)
    data_max = (
        catalog.load(spark, SF_DIR_ORACLE, "events")
        .agg(F.max(F.to_date("ts")))
        .first()[0]
    )
    assert str(data_max) == listed


@pytest.mark.parametrize("qname", ["q1_network_summary", "w3_latest_snapshot",
                                   "p2_time_range"])
def test_hot_queries_resolve_via_partition_filters(spark, qname):
    """The round-3 routing contract: q1/w3/p2 executed plans prune on
    event_date PartitionFilters instead of scanning the flat table."""
    import __spark_entry__ as em
    df = em.queries()[qname](spark, SF_DIR_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_date" in pf, plan
