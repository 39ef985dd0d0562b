"""OD inference: conservation oracle, independent-reimplementation
cross-check, determinism, and per-node capacity properties
(SURVEY.md §5's plan for the non-SQL-expressible U2 kernel)."""

import math

import pytest

from bike_analyzer_spark.operators import od
from tests.conftest import SF_DIR_ORACLE, SF_DIR_SMOKE, make_duck
from tests.oracle import assert_matches_oracle


def test_od_conservation_vs_oracle(spark, duck):
    df = od.od_flow_conservation(spark, SF_DIR_ORACLE)
    assert_matches_oracle(
        df, duck, od.ORACLES["od_flow_conservation"], name="od_flow_conservation"
    )


@pytest.mark.parametrize(
    "name", ["od_flows_topn", "od_flows_with_coords"]
)
def test_od_kernel_vs_recursive_oracle(spark, duck, name):
    """Round-3: the greedy kernel's DuckDB twin is a recursive CTE
    (one match per bucket per iteration) — full value equality, not
    just the conservation invariant."""
    df = od.QUERIES[name](spark, SF_DIR_ORACLE)
    assert_matches_oracle(df, duck, od.ORACLES[name], name=name)


def test_dist_bit_parity_python_vs_duckdb():
    """The argmin distance comparison is the only float-sensitive step
    of the greedy loop. Python math.* and DuckDB both bind glibc libm,
    so the kernel's distance expression is BIT-identical across the
    engines — verified over every pair of the 100-point pseudo-coord
    grid (the only coords the pipeline can produce)."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(f"""
        WITH g AS (
            SELECT m,
                   -30.0::DOUBLE + (m % 100) * 0.01::DOUBLE AS lat,
                   -51.2::DOUBLE + ((m * 7) % 100) * 0.01::DOUBLE AS lon
            FROM range(100) t(m)
        )
        SELECT a.m, d.m, {od._DIST_SQL}
        FROM g a, g d
    """).fetchall()
    sin, cos, atan2, sqrt, rad = (
        math.sin, math.cos, math.atan2, math.sqrt, math.radians,
    )
    coords = [
        (-30.0 + (m % 100) * 0.01, -51.2 + ((m * 7) % 100) * 0.01)
        for m in range(100)
    ]
    for am, dm, duck_dist in rows:
        alat_, alon_ = coords[am]
        dlat_, dlon_ = coords[dm]
        dla = rad(alat_ - dlat_)
        dlo = rad(alon_ - dlon_)
        a = (
            sin(dla / 2.0) ** 2
            + cos(rad(dlat_)) * cos(rad(alat_)) * sin(dlo / 2.0) ** 2
        )
        py_dist = 2.0 * od._EARTH_R_M * atan2(sqrt(a), sqrt(1.0 - a))
        assert py_dist == duck_dist, (am, dm)


def _haversine(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin(dlon / 2) ** 2
    )
    return 2 * 6371000.0 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _reference_greedy(rows):
    """Independent scalar reimplementation of the reference algorithm
    (od_inference.py:19-43) with this engine's deterministic
    tie-breaks. rows: (key, bucket_s, delta_i, lat, lon)."""
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r[1]].append(r)
    edges = defaultdict(int)
    for bucket in sorted(by_bucket):
        deps = {r[0]: [-r[2], r[3], r[4]] for r in by_bucket[bucket] if r[2] < 0}
        arrs = {r[0]: [r[2], r[3], r[4]] for r in by_bucket[bucket] if r[2] > 0}
        while any(v[0] > 0 for v in deps.values()) and any(
            v[0] > 0 for v in arrs.values()
        ):
            dk = min(
                (k for k, v in deps.items() if v[0] > 0),
                key=lambda k: (-deps[k][0], k),
            )
            ak = min(
                (k for k, v in arrs.items() if v[0] > 0),
                key=lambda k: (
                    _haversine(deps[dk][1], deps[dk][2], arrs[k][1], arrs[k][2]),
                    k,
                ),
            )
            units = min(deps[dk][0], arrs[ak][0])
            edges[(dk, ak)] += units
            deps[dk][0] -= units
            arrs[ak][0] -= units
    return dict(edges)


def test_od_flows_match_independent_reimpl(spark):
    deltas = [
        tuple(r)
        for r in od.bucket_deltas(spark, SF_DIR_SMOKE, minutes=10).collect()
    ]
    expected = _reference_greedy(deltas)
    got = {
        (r.o, r.d): r.flow
        for r in od.infer_flows(spark, SF_DIR_SMOKE, minutes=10).collect()
    }
    assert got == expected


def test_od_topn_deterministic(spark):
    a = [tuple(r) for r in od.od_flows_topn(spark, SF_DIR_SMOKE).collect()]
    b = [tuple(r) for r in od.od_flows_topn(spark, SF_DIR_SMOKE).collect()]
    assert a == b and len(a) > 0


def test_od_per_node_capacity(spark):
    """Per bucket: flow out of a key <= its departed units; flow into
    a key <= its arrived units."""
    from pyspark.sql import functions as F

    deltas = od.bucket_deltas(spark, SF_DIR_ORACLE, minutes=10)
    flows = deltas.groupBy("bucket_s").applyInPandas(
        od._match_bucket, schema=od.FLOW_SCHEMA
    )
    out_by_o = flows.groupBy("bucket_s", "o").agg(F.sum("flow").alias("out"))
    dep = deltas.filter("delta_i < 0").select(
        "bucket_s",
        F.col("station_key").alias("o"),
        (-F.col("delta_i")).alias("cap"),
    )
    bad_out = out_by_o.join(dep, ["bucket_s", "o"]).filter("out > cap").count()
    in_by_d = flows.groupBy("bucket_s", "d").agg(F.sum("flow").alias("inn"))
    arr = deltas.filter("delta_i > 0").select(
        "bucket_s",
        F.col("station_key").alias("d"),
        F.col("delta_i").alias("cap"),
    )
    bad_in = in_by_d.join(arr, ["bucket_s", "d"]).filter("inn > cap").count()
    assert bad_out == 0 and bad_in == 0


def test_kernel_partition_contract(spark):
    """Every bucket lands whole in one kernel task, and per-task input
    stays bounded under a skewed bucket distribution (one giant
    bucket + many tiny ones)."""
    from pyspark.sql import functions as F

    rows = [(k, 600, 1) for k in range(500)]            # giant bucket
    rows += [(k % 7, 600 + 600 * (1 + k), 1) for k in range(200)]  # tiny ones
    df = spark.createDataFrame(
        rows, "station_key long, bucket_s long, delta_i int"
    )
    rp = od._kernel_repartition(df)
    tagged = rp.withColumn("pid", F.spark_partition_id())
    split_buckets = (
        tagged.groupBy("bucket_s")
        .agg(F.countDistinct("pid").alias("np"))
        .filter("np > 1")
        .count()
    )
    assert split_buckets == 0
    # per-task input <= giant bucket + its share of tiny buckets
    per_task = [r.n for r in
                tagged.groupBy("pid").agg(F.count("*").alias("n")).collect()]
    assert max(per_task) <= 500 + 200


def test_od_tie_determinism_synthetic(spark):
    """Adversarial ties: equal remaining counts and equal distances
    must resolve by smallest key on both the kernel and the
    independent reimplementation."""
    import pandas as pd
    from bike_analyzer_spark.operators.od import _match_bucket

    # two departures with identical counts; two arrivals equidistant
    # from each departure (same coords) with identical counts
    pdf = pd.DataFrame({
        "station_key": [10, 2, 30, 4],
        "bucket_s":    [600, 600, 600, 600],
        "delta_i":     [-5, -5, 5, 5],
        "lat":         [-30.0, -30.0, -30.1, -30.1],
        "lon":         [-51.0, -51.0, -51.1, -51.1],
    })
    out = _match_bucket(pdf)
    got = list(map(tuple, out.to_records(index=False)))
    # largest-remaining tie -> smallest dep key (2); nearest tie ->
    # smallest arr key (4... keys sorted: arrivals are 4 and 30, same
    # distance -> 4 first)
    assert got[0] == (600, 2, 4, 5)
    assert got[1] == (600, 10, 30, 5)
    expected = _reference_greedy(
        [tuple(r) for r in pdf[["station_key", "bucket_s", "delta_i",
                                "lat", "lon"]].itertuples(index=False)])
    rolled = {}
    for _, o, d, c in got:
        rolled[(o, d)] = rolled.get((o, d), 0) + c
    assert rolled == expected
