"""The queries that sort their result in one task
(`operators.sorted_small`) keep the oracle's ORDER BY, plan no
range-partitioning exchange, and coalesce only a final aggregate over
a shuffle (the helper's rule: `coalesce(1)` pulls the whole stage back
to the last exchange into that one task). AQE partition coalescing is
off here: at sf0.01 it folds these results into one partition anyway,
which would hide a sort that is only per partition."""

import pathlib
import re

import pytest

import __spark_entry__ as entry

from .conftest import SF_DIR_ORACLE
from .oracle import assert_same_rows_in_order

SORTED_SMALL = (
    "q4_hourly_correlation",
    "w3_latest_snapshot",
    "hypertable_rollup",
)

#: plan nodes that neither read nor multiply rows on their own
_PASS = {
    "WholeStageCodegenExec",
    "InputAdapter",
    "ProjectExec",
    "FilterExec",
    "UnionExec",
}
_AGG = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
_SHUFFLE_READ = {"AQEShuffleReadExec", "ShuffleQueryStageExec"}


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _kids(node) -> list:
    if _name(node) == "ResultQueryStageExec":  # a leaf wrapping its stage
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _nodes(node):
    yield node
    for k in _kids(node):
        yield from _nodes(k)


def _below(node) -> list:
    """The first nodes under `node` past projections, filters, unions
    and codegen wrappers."""
    return [
        n
        for k in _kids(node)
        for n in (_below(k) if _name(k) in _PASS else [k])
    ]


def _final_plan(df):
    plan = df._jdf.queryExecution().executedPlan()
    if _name(plan) == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # final once the query has run
    return plan


@pytest.fixture()
def uncoalesced(spark):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, was)


@pytest.mark.parametrize("name", SORTED_SMALL)
def test_oracle_order_one_task_sort_over_aggregate(uncoalesced, duck, name):
    df = entry.queries()[name](uncoalesced, SF_DIR_ORACLE)
    assert_same_rows_in_order(df, duck, entry.oracle_sql()[name], name)
    plan = _final_plan(df)
    assert "rangepartitioning" not in plan.toString(), plan.toString()
    (coalesce,) = [n for n in _nodes(plan) if _name(n) == "CoalesceExec"]
    aggs = _below(coalesce)
    assert aggs and all(_name(a) in _AGG for a in aggs), plan.toString()
    reads = [r for a in aggs for r in _below(a)]
    assert all(_name(r) in _SHUFFLE_READ for r in reads), plan.toString()


def test_every_sorted_small_use_is_plan_checked():
    ops = pathlib.Path(entry.__file__).parent / "bike_analyzer_spark/operators"
    uses = sum(
        len(re.findall(r"transform\(\s*sorted_small\b", p.read_text()))
        for p in ops.glob("*.py")
    )
    assert uses == len(SORTED_SMALL), uses
