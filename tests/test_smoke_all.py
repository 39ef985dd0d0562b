"""Every corpus query must run at the driver's smoke scale (sf0.001)
with a stable, non-empty schema — emptiness of RESULTS is allowed
(some near-dup queries are legitimately empty), crashes are not."""

import pytest

import __spark_entry__ as em
from tests.conftest import SF_DIR_SMOKE

@pytest.mark.parametrize("name", sorted(em.queries()))
def test_smoke_sf0001(spark, name):
    df = em.queries()[name](spark, SF_DIR_SMOKE)
    assert len(df.schema.fields) > 0
    rows = df.collect()
    assert rows is not None


def test_every_query_has_oracle_or_documented_exception():
    """EVERY queries() entry has an oracle_sql twin; the rows-only
    exemption set is empty."""
    missing = set(em.queries()) - set(em.oracle_sql())
    assert not missing, f"queries without oracle: {missing}"
