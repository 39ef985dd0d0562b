import pytest
from bike_analyzer_spark.operators import readers
from tests.conftest import SF_DIR_ORACLE
from tests.oracle import assert_matches_oracle

@pytest.mark.parametrize("name", sorted(readers.QUERIES))
def test_readers_vs_oracle(spark, duck, name):
    df = readers.QUERIES[name](spark, SF_DIR_ORACLE)
    assert_matches_oracle(df, duck, readers.ORACLES[name], name=name)

def test_time_range_filter_pushed_to_scan(spark):
    """Round-3 partitioned path: the date bound prunes partition dirs
    (PartitionFilters) AND the precise ts bound reaches the parquet
    row groups (PushedFilters)."""
    df = readers.read_time_range(
        spark, SF_DIR_ORACLE, start="2024-01-08 00:00:00")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan.split("PushedFilters")[1].split("]")[0], plan
    assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0], plan


def test_projection_pruned_to_read_schema(spark):
    """P1: only the projected columns appear in ReadSchema."""
    df = readers.p1_projected_notnull(spark, SF_DIR_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "c_mktsegment" not in scan[0] and "c_custkey" in scan[0]
