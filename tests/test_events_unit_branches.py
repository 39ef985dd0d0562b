"""Both events.ts loader branches against files that actually carry
each physical unit. The driver has shipped TIMESTAMP(NANOS) (rounds
1-4) and TIMESTAMP(MICROS) (round 5+); current fixtures only exercise
the micros branch, so the nanos path is synthesized here — if the
driver flips back, the loader must already work, not just fail
loudly in the data contract."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as papq
import pytest

from bike_analyzer_spark.sources import catalog
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def dual_dirs(tmp_path_factory):
    """Two sf_dirs with IDENTICAL instants: one micros, one nanos."""
    base = tmp_path_factory.mktemp("units")
    src = papq.read_table(os.path.join(SF_DIR_SMOKE, "events.parquet"))
    us_dir, ns_dir = base / "us", base / "ns"
    us_dir.mkdir(), ns_dir.mkdir()
    shutil.copy(
        os.path.join(SF_DIR_SMOKE, "events.parquet"),
        us_dir / "events.parquet",
    )
    i = src.schema.get_field_index("ts")
    ns_tbl = src.set_column(
        i, "ts", src["ts"].cast(pa.timestamp("ns"))
    )
    papq.write_table(
        ns_tbl, str(ns_dir / "events.parquet"), store_schema=False
    )
    return str(us_dir), str(ns_dir)


def test_units_sniffed_correctly(dual_dirs):
    us_dir, ns_dir = dual_dirs
    assert catalog.events_ts_unit(us_dir) == "us"
    assert catalog.events_ts_unit(ns_dir) == "ns"


def test_both_branches_yield_identical_instants(spark, dual_dirs):
    us_dir, ns_dir = dual_dirs
    a = sorted(
        (r.event_id, r.ts)
        for r in catalog.load(spark, us_dir, "events").collect()
    )
    b = sorted(
        (r.event_id, r.ts)
        for r in catalog.load(spark, ns_dir, "events").collect()
    )
    assert a == b and len(a) > 0
    assert a[0][1].year == 2024
