"""Origin-destination flow inference — the reference's signature
non-relational kernel (reference od_inference.py:19-77, SURVEY.md U2),
re-expressed Spark-first.

Pipeline (testdata mapping: user_id plays station_id, value plays
num_bikes_available, pseudo-coordinates derived from the key as in
f_haversine_suite):

1. F6+A7: last value per (key, N-minute bucket)   od_inference.py:50-52
2. W1:    per-key bucket-series delta, int-cast   od_inference.py:53
3. P5:    drop keys without coordinates (join)    od_inference.py:63-64
4. P4+U2: sign split + greedy nearest-neighbor
          matching per bucket                      od_inference.py:19-43,66-74
5. A10:   roll up per-bucket flows to edges       od_inference.py:76
6. O4:    top-N edges                              streamlit_app.py:242

Spark shape: steps 1-3 are window/join relational ops; step 4 is the
one genuinely sequential kernel — parallel ACROSS buckets, sequential
within a bucket exactly like the reference (safe: buckets are
independent). It runs as `repartition(bucket).mapInPandas` with a
pandas groupby inside rather than `groupBy().applyInPandas`: with
thousands of small buckets, per-group Arrow round-trips dominate
(measured 23s -> ~3s at sf0.1); mapInPandas pays the Python/Arrow
boundary once per partition instead of once per bucket.

Determinism: the reference's greedy loop breaks ties by list order
(input row order). That is not stable under distributed input order,
so this implementation pins explicit total orders: largest remaining
departure (tie → smallest key), nearest arrival by haversine
(distance tie → smallest key). Same algorithm, deterministic on any
partitioning.

100 TB notes:
- the shuffle is on bucket_s; per-bucket state is bounded by the
  number of distinct keys (stations), not by row count — the A7
  collapse happens BEFORE the pandas kernel, so each group is at most
  |stations| rows regardless of input volume.
- the coordinate dimension joins via broadcast below AQE's threshold;
  no .collect() anywhere.
"""

from __future__ import annotations

import math
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load
from .windows import lag_delta

FLOW_SCHEMA = "bucket_s bigint, o bigint, d bigint, flow bigint"

_EARTH_R_M = 6371000.0

def _kernel_repartition(df: DataFrame) -> DataFrame:
    """Hash-distribute buckets to kernel tasks. Buckets never split
    across tasks (the kernel's correctness invariant), so per-task
    input is bounded by the buckets each task receives."""
    return df.repartition("bucket_s")


def pseudo_coords(df: DataFrame, key: str = "c_custkey") -> DataFrame:
    """Deterministic pseudo lat/lon for a key column (testdata has no
    geo columns; shared mapping with kpi.f_haversine_suite)."""
    from ..functions.geo import pseudo_coords_cols

    lat, lon = pseudo_coords_cols(F.col(key))
    return df.select(
        F.col(key).alias("station_key"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


def _greedy_match(
    bucket: int, keys, deltas, lats, lons
) -> list[tuple[int, int, int, int]]:
    """Greedy nearest-neighbor matching within one time bucket
    (reference od_inference.py:19-43): repeatedly take the departure
    with the largest remaining units, send min(dep, nearest-arrival)
    units to the nearest arrival, until either side exhausts.

    Pure-Python scalar loop on purpose: buckets hold at most
    |stations| rows and are typically tiny (~tens), where per-call
    numpy/pandas overhead costs more than the arithmetic (measured
    2x on the sf0.1 corpus). Ties: largest remaining -> smallest key;
    nearest -> smallest key (sorted-input scan order guarantees both).
    """
    deps = sorted(
        (k, -d, la, lo)
        for k, d, la, lo in zip(keys, deltas, lats, lons)
        if d < 0
    )
    arrs = sorted(
        (k, d, la, lo)
        for k, d, la, lo in zip(keys, deltas, lats, lons)
        if d > 0
    )
    d_rem = [x[1] for x in deps]
    a_rem = [x[1] for x in arrs]
    rows: list[tuple[int, int, int, int]] = []
    sin, cos, atan2, sqrt, rad = (
        math.sin,
        math.cos,
        math.atan2,
        math.sqrt,
        math.radians,
    )
    while True:
        di, best_rem = -1, 0
        for i, r in enumerate(d_rem):
            if r > best_rem:
                di, best_rem = i, r
        if di < 0:
            break
        _, _, dlat_, dlon_ = deps[di]
        ai, best_dist = -1, float("inf")
        for j, r in enumerate(a_rem):
            if r <= 0:
                continue
            alat_, alon_ = arrs[j][2], arrs[j][3]
            dla = rad(alat_ - dlat_)
            dlo = rad(alon_ - dlon_)
            a = (
                sin(dla / 2.0) ** 2
                + cos(rad(dlat_)) * cos(rad(alat_)) * sin(dlo / 2.0) ** 2
            )
            dist = 2.0 * _EARTH_R_M * atan2(sqrt(a), sqrt(1.0 - a))
            if dist < best_dist:
                ai, best_dist = j, dist
        if ai < 0:
            break
        units = min(d_rem[di], a_rem[ai])
        rows.append((bucket, deps[di][0], arrs[ai][0], units))
        d_rem[di] -= units
        a_rem[ai] -= units
    return rows


def _match_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """pandas-in/pandas-out wrapper over `_greedy_match` (usable with
    groupBy().applyInPandas as well as the partition path below)."""
    if pdf.empty:
        return pd.DataFrame(
            {"bucket_s": [], "o": [], "d": [], "flow": []}
        ).astype({"bucket_s": "int64", "o": "int64", "d": "int64", "flow": "int64"})
    rows = _greedy_match(
        int(pdf["bucket_s"].iloc[0]),
        [int(k) for k in pdf["station_key"]],
        [int(d) for d in pdf["delta_i"]],
        list(pdf["lat"]),
        list(pdf["lon"]),
    )
    return pd.DataFrame(rows, columns=["bucket_s", "o", "d", "flow"])


def _match_partition(batches):
    """mapInPandas driver for `_greedy_match`: each task concatenates
    its partition (bounded: ~|buckets-per-partition| x |stations| rows,
    independent of raw event volume), slices it per bucket with numpy
    boundary detection, and emits one output frame — per-bucket cost
    is the greedy loop itself, with no per-group pandas/Arrow overhead.
    """
    import numpy as np

    buf = [pdf for pdf in batches if len(pdf)]
    if not buf:
        return
    pdf = pd.concat(buf).sort_values("bucket_s", kind="mergesort")
    b = pdf["bucket_s"].to_numpy()
    k = pdf["station_key"].to_numpy()
    d = pdf["delta_i"].to_numpy()
    la = pdf["lat"].to_numpy()
    lo = pdf["lon"].to_numpy()
    bounds = np.flatnonzero(np.r_[True, b[1:] != b[:-1], True])
    rows: list[tuple[int, int, int, int]] = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        rows.extend(
            _greedy_match(
                int(b[s]),
                k[s:e].tolist(),
                d[s:e].tolist(),
                la[s:e].tolist(),
                lo[s:e].tolist(),
            )
        )
    if rows:
        yield pd.DataFrame(rows, columns=["bucket_s", "o", "d", "flow"])


def bucket_deltas(
    spark: SparkSession, sf_dir: str, minutes: int = 10
) -> DataFrame:
    """Steps 1-3: per-(key, bucket) int delta joined to coordinates."""
    # spread read is safe HERE: last_per_bucket/lag_delta windows are
    # totally ordered (event_id tiebreak) and flows are int-cast
    # before any cross-row sum, so results are partitioning-invariant
    from ..sources.catalog import load_events_spread

    events = load_events_spread(spark, sf_dir)
    stations = pseudo_coords(load(spark, sf_dir, "customer"))
    deltas = (
        lag_delta(events, minutes=minutes)
        .withColumn("delta_i", F.col("delta").cast("int"))
        .filter(F.col("delta_i") != 0)
        .select("user_id", "bucket_s", "delta_i")
    )
    # P5: inner join doubles as the semi-join drop of unknown keys and
    # carries the coordinates the matcher needs. Dimension side is
    # broadcast by AQE (small); no hint so sf100+ can fall back.
    return deltas.join(
        stations, deltas.user_id == stations.station_key
    ).select("station_key", "bucket_s", "delta_i", "lat", "lon")


#: bump to invalidate persisted kernel-output caches when matching
#: semantics change
KERNEL_VERSION = 1


def matched_per_bucket(
    spark: SparkSession, sf_dir: str, minutes: int = 10
) -> DataFrame:
    """The greedy kernel's per-bucket (bucket_s, o, d, flow) output,
    PERSISTED once per (sf_dir, minutes) — the same train-once /
    fingerprint discipline as the IVF centroids, PQ codebook, and NB
    model caches: the inference is deterministic ETL over a fixed
    events+customer snapshot, and before this cache every OD consumer
    (topn, conservation, with_coords, pagerank) re-ran the full
    window + shuffle + Python-kernel pipeline per query — the
    corpus's single largest repeated cost (r7 bench: 4 queries x
    ~1.5 s kernel each). Fingerprint covers both source files, the
    loader version, the kernel version, and the bucket width."""
    import json

    from ..sources.catalog import (
        LOADER_VERSION,
        PARTITIONED_CACHE_DIR,
        _fingerprint_ok,
    )

    path = os.path.join(
        PARTITIONED_CACHE_DIR.replace("events_by_date", "od_flows"),
        f"{os.path.basename(os.path.normpath(sf_dir))}_m{minutes}",
    )
    marker = os.path.join(path, "_FINGERPRINT.json")
    fp = {"loader_version": LOADER_VERSION, "kernel_version": KERNEL_VERSION}
    for t in ("events", "customer"):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        fp[t] = [st.st_size, st.st_mtime_ns]
    if not _fingerprint_ok(marker, fp):
        (
            _kernel_repartition(bucket_deltas(spark, sf_dir, minutes=minutes))
            .mapInPandas(_match_partition, schema=FLOW_SCHEMA)
            .write.mode("overwrite")
            .parquet(path)
        )
        with open(marker, "w") as f:
            json.dump(fp, f)
    return spark.read.schema(FLOW_SCHEMA).parquet(path)


def infer_flows(
    spark: SparkSession, sf_dir: str, minutes: int = 10
) -> DataFrame:
    """U2+A10: greedy per-bucket matching, rolled up to (o, d) edges."""
    return (
        matched_per_bucket(spark, sf_dir, minutes=minutes)
        .groupBy("o", "d")
        .agg(F.sum("flow").alias("flow"))
    )


def od_flows_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: top-50 OD edges (streamlit_app.py:242, default slider 50)."""
    return infer_flows(spark, sf_dir, minutes=10).orderBy(
        F.desc("flow"), F.asc("o"), F.asc("d")
    ).limit(50)


def od_flow_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit query: per bucket, matched units = min(total departed,
    total arrived) — the greedy loop's invariant, checkable in SQL.
    This is the SQL-expressible face of U2, used as its oracle.
    """
    # the kernel side reads the persisted per-bucket cache; only the
    # departed/arrived audit recomputes the (cheap) delta window
    deltas = bucket_deltas(spark, sf_dir, minutes=10)
    flows = (
        matched_per_bucket(spark, sf_dir, minutes=10)
        .groupBy("bucket_s")
        .agg(F.sum("flow").alias("matched"))
    )
    sides = deltas.groupBy("bucket_s").agg(
        F.sum(F.when(F.col("delta_i") < 0, -F.col("delta_i"))).alias("departed"),
        F.sum(F.when(F.col("delta_i") > 0, F.col("delta_i"))).alias("arrived"),
    )
    return (
        sides.join(flows, "bucket_s", "left")
        .na.fill({"matched": 0})
        .select(
            "bucket_s",
            F.col("departed").cast("bigint").alias("departed"),
            F.col("arrived").cast("bigint").alias("arrived"),
            F.col("matched").cast("bigint").alias("matched"),
        )
    )


def od_flows_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (reference streamlit_app.py:241-248): decorate the top flows
    with origin/destination coordinates — two aliased broadcast joins
    against the station dimension, set-wise (the reference does four
    dict-lookup .map() calls)."""
    flows = od_flows_topn(spark, sf_dir)
    coords = pseudo_coords(load(spark, sf_dir, "customer"))
    o = coords.select(
        F.col("station_key").alias("o"),
        F.col("lat").alias("o_lat"),
        F.col("lon").alias("o_lon"),
    )
    d = coords.select(
        F.col("station_key").alias("d"),
        F.col("lat").alias("d_lat"),
        F.col("lon").alias("d_lon"),
    )
    # No broadcast hint: the coords dimension grows with scale factor
    # (same policy as q2 — a forced broadcast OOMs at sf100+); AQE
    # broadcasts whichever side is actually small at runtime (the
    # 50-row flows side qualifies regardless of SF).
    return (
        flows.join(o, "o")
        .join(d, "d")
        .select(
            "o",
            "d",
            "flow",
            F.round("o_lat", 6).alias("o_lat"),
            F.round("o_lon", 6).alias("o_lon"),
            F.round("d_lat", 6).alias("d_lat"),
            F.round("d_lon", 6).alias("d_lon"),
        )
        .orderBy(F.desc("flow"), "o", "d")
    )


QUERIES = {
    "od_flows_topn": od_flows_topn,
    "od_flow_conservation": od_flow_conservation,
    "od_flows_with_coords": od_flows_with_coords,
}

# The greedy kernel IS oracle-able after all (round-3): DuckDB's
# recursive CTE runs one match per bucket per iteration — sequential
# within a bucket, parallel across buckets, exactly the Spark
# mapInPandas structure. Distance parity is bit-exact (Python math.*
# and DuckDB both bind glibc libm; verified over the full 100x100
# pseudo-coord grid in tests/test_od.py), so the argmin/argmax
# choices — the only float-sensitive steps — agree everywhere and the
# integer flows match exactly.
_DIST_SQL = """2.0*6371000.0*atan2(
      sqrt( pow(sin(radians(a.lat-d.lat)/2.0),2)
          + cos(radians(d.lat))*cos(radians(a.lat))
            *pow(sin(radians(a.lon-d.lon)/2.0),2) ),
      sqrt(1.0 - ( pow(sin(radians(a.lat-d.lat)/2.0),2)
          + cos(radians(d.lat))*cos(radians(a.lat))
            *pow(sin(radians(a.lon-d.lon)/2.0),2))))"""

# CTE chain ending in flows(o, d, flow) — composed under WITH RECURSIVE
# by the od_* oracles here and by graph.od_pagerank's oracle. The `st`
# working set carries (bucket, side D/A, station, remaining, coords);
# each recursive round emits one 'M' match row per still-active bucket
# and re-emits the updated D/A state (zero-remainder rows drop, which
# both shrinks the state and encodes the loop's exhaustion test).
FLOWS_CTE_SQL = f"""
b AS (
    SELECT user_id, value, event_id,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600
                AS BIGINT) AS bucket_s,
           row_number() OVER (
               PARTITION BY user_id,
                   CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600)
                        * 600 AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
),
last AS (SELECT user_id, bucket_s, value FROM b WHERE rn = 1),
deltas AS (
    -- trunc() before the INT cast: DuckDB casts double->int by
    -- rounding, Spark (and the reference's astype(int)) truncate
    SELECT user_id, bucket_s,
           CAST(trunc(round(coalesce(
               value - lag(value) OVER (
                   PARTITION BY user_id ORDER BY bucket_s),
               0), 4)) AS INT) AS delta_i
    FROM last
),
base AS (
    SELECT deltas.bucket_s, deltas.user_id AS k, deltas.delta_i,
           -30.0::DOUBLE + (c.c_custkey % 100) * 0.01::DOUBLE AS lat,
           -51.2::DOUBLE + ((c.c_custkey * 7) % 100) * 0.01::DOUBLE AS lon
    FROM deltas JOIN customer c ON deltas.user_id = c.c_custkey
    WHERE deltas.delta_i != 0
),
st(bucket_s, side, k, rem, lat, lon, m_d) AS (
    SELECT bucket_s,
           CASE WHEN delta_i < 0 THEN 'D' ELSE 'A' END,
           k,
           CAST(CASE WHEN delta_i < 0 THEN -delta_i
                     ELSE delta_i END AS BIGINT),
           lat, lon, NULL::BIGINT
    FROM base
    UNION ALL
    (
        WITH dep AS (
            -- largest remaining departure, tie -> smallest key
            SELECT * FROM (
                SELECT bucket_s, k, rem, lat, lon,
                       row_number() OVER (
                           PARTITION BY bucket_s
                           ORDER BY rem DESC, k ASC) AS rn
                FROM st WHERE side = 'D'
            ) WHERE rn = 1
        ),
        arr AS (
            -- nearest arrival to it, tie -> smallest key
            SELECT * FROM (
                SELECT a.bucket_s, a.k, a.rem,
                       row_number() OVER (
                           PARTITION BY a.bucket_s
                           ORDER BY {_DIST_SQL} ASC, a.k ASC) AS rn
                FROM st a JOIN dep d USING (bucket_s)
                WHERE a.side = 'A'
            ) WHERE rn = 1
        ),
        m AS (
            SELECT d.bucket_s, d.k AS o, a.k AS dk,
                   least(d.rem, a.rem) AS units,
                   d.rem - least(d.rem, a.rem) AS d_left,
                   a.rem - least(d.rem, a.rem) AS a_left
            FROM dep d JOIN arr a USING (bucket_s)
        )
        SELECT bucket_s, 'M', o, units, NULL::DOUBLE, NULL::DOUBLE, dk
        FROM m
        UNION ALL
        SELECT s.bucket_s, 'D', s.k,
               CASE WHEN s.k = m.o THEN m.d_left ELSE s.rem END,
               s.lat, s.lon, NULL
        FROM st s JOIN m ON s.bucket_s = m.bucket_s
        WHERE s.side = 'D' AND (s.k != m.o OR m.d_left > 0)
        UNION ALL
        SELECT s.bucket_s, 'A', s.k,
               CASE WHEN s.k = m.dk THEN m.a_left ELSE s.rem END,
               s.lat, s.lon, NULL
        FROM st s JOIN m ON s.bucket_s = m.bucket_s
        WHERE s.side = 'A' AND (s.k != m.dk OR m.a_left > 0)
    )
),
flows AS MATERIALIZED (
    SELECT k AS o, m_d AS d, CAST(sum(rem) AS BIGINT) AS flow
    FROM st WHERE side = 'M'
    GROUP BY k, m_d
)"""

ORACLES = {
    "od_flows_topn": f"""
        WITH RECURSIVE {FLOWS_CTE_SQL}
        SELECT o, d, flow FROM flows
        ORDER BY flow DESC, o, d
        LIMIT 50
    """,
    "od_flows_with_coords": f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        topn AS (
            SELECT o, d, flow FROM flows
            ORDER BY flow DESC, o, d
            LIMIT 50
        ),
        coords AS (
            SELECT c_custkey AS ck,
                   -30.0::DOUBLE + (c_custkey % 100) * 0.01::DOUBLE AS lat,
                   -51.2::DOUBLE + ((c_custkey * 7) % 100) * 0.01::DOUBLE AS lon
            FROM customer
        )
        SELECT t.o, t.d, t.flow,
               round(co.lat, 6) AS o_lat, round(co.lon, 6) AS o_lon,
               round(cd.lat, 6) AS d_lat, round(cd.lon, 6) AS d_lon
        FROM topn t
        JOIN coords co ON t.o = co.ck
        JOIN coords cd ON t.d = cd.ck
        ORDER BY flow DESC, o, d
    """,
    "od_flow_conservation": """
        WITH b AS (
            SELECT user_id, value, event_id,
                   CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600
                        AS BIGINT) AS bucket_s,
                   row_number() OVER (
                       PARTITION BY user_id,
                           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600)
                                * 600 AS BIGINT)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ),
        last AS (SELECT user_id, bucket_s, value FROM b WHERE rn = 1),
        d AS (
            -- trunc() before the INT cast: DuckDB casts double->int by
            -- rounding, Spark (and the reference's astype(int)) truncate
            SELECT user_id, bucket_s,
                   CAST(trunc(round(coalesce(
                       value - lag(value) OVER (
                           PARTITION BY user_id ORDER BY bucket_s),
                       0), 4)) AS INT) AS delta_i
            FROM last
        ),
        dd AS (
            SELECT * FROM d
            WHERE delta_i != 0
              AND user_id IN (SELECT c_custkey FROM customer)
        )
        SELECT bucket_s,
               CAST(sum(CASE WHEN delta_i < 0 THEN -delta_i END) AS BIGINT)
                   AS departed,
               CAST(sum(CASE WHEN delta_i > 0 THEN delta_i END) AS BIGINT)
                   AS arrived,
               -- one-sided buckets match nothing; DuckDB's least()
               -- skips NULLs, so guard explicitly
               CAST(CASE
                   WHEN sum(CASE WHEN delta_i < 0 THEN -delta_i END) IS NULL
                     OR sum(CASE WHEN delta_i > 0 THEN delta_i END) IS NULL
                   THEN 0
                   ELSE least(
                       sum(CASE WHEN delta_i < 0 THEN -delta_i END),
                       sum(CASE WHEN delta_i > 0 THEN delta_i END))
               END AS BIGINT) AS matched
        FROM dd
        GROUP BY bucket_s
    """,
}


# --------------------------------------------------- geo hotspots

#: grid is the pseudo-coord lattice itself: i = key % 100,
#: j = (key*7) % 100 (functions/geo.pseudo_coords_cols quantized at
#: its own 0.01-degree resolution — no float floor anywhere)
GEO_TOP = 15

_OFFSETS = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)]

#: Getis-Ord Gi* over integer sums, ONE shared-text double
#: expression (the stats_moments discipline): gi = 3x3 neighborhood
#: activity, wi = existing neighbor cells, n/t/q = cell count, sum,
#: sum of squares
_GI_Z = (
    "CASE WHEN n > 1 AND n > wi AND"
    " (CAST(q AS DOUBLE) / CAST(n AS DOUBLE)"
    "  - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))"
    "  * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))) > 0 THEN"
    " (CAST(gi AS DOUBLE) - CAST(t AS DOUBLE) / CAST(n AS DOUBLE)"
    "   * CAST(wi AS DOUBLE))"
    " / (sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))"
    "     * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * sqrt((CAST(n AS DOUBLE) * CAST(wi AS DOUBLE)"
    "      - CAST(wi AS DOUBLE) * CAST(wi AS DOUBLE))"
    "      / CAST(n - 1 AS DOUBLE)))"
    " ELSE NULL END"
)


def geo_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot cells of OD traffic: station activity
    (in+out flow) binned to the integer pseudo-coordinate grid, each
    cell scored by how much its 3x3 neighborhood's activity exceeds
    the corpus expectation, in standard deviations. The top GEO_TOP
    cells are where a rebalancing crew goes first. Reference analog:
    the OD map page (`streamlit_app.py:242`) draws raw edges only.

    Exactness: activity, neighborhood sums (gi), neighbor counts
    (wi) and the corpus moments (n, t, q) are exact integers — the
    grid indices come from the key arithmetic that DEFINES the
    pseudo-coords, so no float floor exists anywhere — and the z
    score is ONE shared-text IEEE expression over them, bit-equal in
    both engines (ordering and the top-15 cut are therefore stable;
    ties break by (z desc, i, j)).

    Scale shape: flows roll up to station activity (station-sized,
    one shuffle — the flows kernel itself is the persisted od
    cache), cells are <=100x100 regardless of corpus size, the
    neighborhood sum is a bounded x9 explode + one join on the cell
    key, and the moments ride a 1-row broadcast. Boundary cells
    simply have fewer existing neighbors (wi < 9) — the Gi*
    denominator accounts for that via wi.
    """
    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    act = (
        flows.select(F.col("o").alias("k"), "flow")
        .unionAll(flows.select(F.col("d").alias("k"), "flow"))
        .groupBy("k")
        .agg(F.sum("flow").alias("a"))
    )
    cells = (
        act.select(
            (F.col("k") % 100).alias("i"),
            ((F.col("k") * 7) % 100).alias("j"),
            "a",
        )
        .groupBy("i", "j")
        .agg(
            F.sum("a").alias("x"), F.count(F.lit(1)).alias("n_stations")
        )
        .localCheckpoint(eager=False)
    )
    offs = "array(" + ",".join(
        f"named_struct('di', {di}, 'dj', {dj})" for di, dj in _OFFSETS
    ) + ")"
    nbr = (
        cells.select(
            "i", "j", "x", F.explode(F.expr(offs)).alias("o")
        )
        .select(
            (F.col("i") + F.col("o.di")).alias("ti"),
            (F.col("j") + F.col("o.dj")).alias("tj"),
            "x",
        )
        .groupBy("ti", "tj")
        .agg(F.sum("x").alias("gi"), F.count(F.lit(1)).alias("wi"))
    )
    totals = cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("t"),
        F.expr("sum(x * x)").alias("q"),
    )
    return (
        cells.join(
            nbr,
            (F.col("i") == F.col("ti")) & (F.col("j") == F.col("tj")),
        )
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "i",
            "j",
            "n_stations",
            "x AS activity",
            "gi AS neighborhood_activity",
            "wi AS n_neighbor_cells",
            f"{_GI_Z} AS gi_z",
        )
        .orderBy(F.desc("gi_z"), "i", "j")
        .limit(GEO_TOP)
    )


QUERIES["geo_hotspots"] = geo_hotspots


def _geo_hotspots_oracle() -> str:
    offs_rows = ", ".join(f"({di}, {dj})" for di, dj in _OFFSETS)
    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        act AS (
            SELECT k, CAST(sum(flow) AS BIGINT) AS a FROM (
                SELECT o AS k, flow FROM flows WHERE o <> d
                UNION ALL
                SELECT d AS k, flow FROM flows WHERE o <> d
            ) GROUP BY k
        ),
        cells AS (
            SELECT k % 100 AS i, (k * 7) % 100 AS j,
                   CAST(sum(a) AS BIGINT) AS x,
                   count(*) AS n_stations
            FROM act GROUP BY 1, 2
        ),
        nbr AS (
            SELECT c.i + o.di AS ti, c.j + o.dj AS tj,
                   CAST(sum(c.x) AS BIGINT) AS gi,
                   count(*) AS wi
            FROM cells c, (VALUES {offs_rows}) o(di, dj)
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS t,
                   CAST(sum(x * x) AS BIGINT) AS q
            FROM cells
        )
        SELECT i, j, n_stations, x AS activity,
               gi AS neighborhood_activity,
               wi AS n_neighbor_cells,
               {_GI_Z} AS gi_z
        FROM cells
        JOIN nbr ON nbr.ti = cells.i AND nbr.tj = cells.j
        CROSS JOIN totals
        ORDER BY gi_z DESC, i, j
        LIMIT {GEO_TOP}
    """


ORACLES["geo_hotspots"] = _geo_hotspots_oracle()


# -------------------------------------------- grid-density clustering

#: 8-neighborhood (the Gi* offsets minus the cell itself)
_NBR8 = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]


def geo_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering of OD traffic (the grid-DBSCAN
    variant): 10x10 MACRO-cells of the pseudo-coordinate lattice (hotspots' grid coarsened 10x so contiguity exists at every SF) whose activity
    is strictly ABOVE the non-empty-cell mean are dense; dense cells
    that touch in the 8-neighborhood merge into clusters (connected
    components); a dense cell with no dense neighbor is a singleton
    cluster. Where `geo_hotspots` ranks individual cells,
    this returns the CONTIGUOUS high-traffic regions — the shapes a
    rebalancing plan actually allocates crews to.

    The density bar is corpus-scaled (x·n > t, exact integer
    cross-multiplication — a fixed count degenerates as SF grows,
    the ab_test_chi2/od_kcore discipline). Everything is exact
    integers; no score arithmetic exists at all.

    Scale shape: flows roll up to the <=10x10 cell lattice (station
    keys are non-negative, so i and j are digits; the
    corpus-sized work is the persisted flows kernel); density,
    adjacency (a bounded x8 explode + one equi join on the cell
    key), and the CC loop all run on the LATTICE-sized frame —
    min-label propagation over <=100 vertices, so the diameter is
    below 100 and `max_iter=100` converges by construction (8-9
    rounds measured). The report is cluster-count-sized.
    """
    from .graph import connected_components

    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    act = (
        flows.select(F.col("o").alias("k"), "flow")
        .unionAll(flows.select(F.col("d").alias("k"), "flow"))
        .groupBy("k")
        .agg(F.sum("flow").alias("a"))
    )
    cells = (
        act.select(
            ((F.col("k") % 100) / 10).cast("int").alias("i"),
            (((F.col("k") * 7) % 100) / 10).cast("int").alias("j"),
            "a",
        )
        .groupBy("i", "j")
        .agg(
            F.sum("a").alias("x"), F.count(F.lit(1)).alias("n_stations")
        )
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("t")
    )
    dense = (
        cells.crossJoin(F.broadcast(tot))
        .where(F.expr("x * n > t"))
        .selectExpr(
            "i", "j", "x", "n_stations",
            "CAST(i * 10 + j AS BIGINT) AS cell",
        )
        .localCheckpoint(eager=False)
    )
    offs = "array(" + ",".join(
        f"named_struct('di', {di}, 'dj', {dj})" for di, dj in _NBR8
    ) + ")"
    shifted = dense.select(
        "cell", F.explode(F.expr(offs)).alias("o"), "i", "j"
    ).select(
        (F.col("i") + F.col("o.di")).alias("ti"),
        (F.col("j") + F.col("o.dj")).alias("tj"),
        F.col("cell").alias("a"),
    )
    edges = (
        shifted.join(
            dense.select(
                F.col("i").alias("ti"),
                F.col("j").alias("tj"),
                F.col("cell").alias("b"),
            ),
            ["ti", "tj"],
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # converges: <=100 lattice cells -> diameter < 100 = max_iter
    comp = connected_components(edges, max_iter=100)
    labeled = dense.join(
        comp.withColumnRenamed("id", "cell"), "cell", "left"
    ).withColumn(
        "cluster", F.coalesce("component", "cell")
    )
    return (
        labeled.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_stations").alias("n_stations"),
            F.sum("x").alias("total_activity"),
            F.min("i").alias("min_i"),
            F.max("i").alias("max_i"),
            F.min("j").alias("min_j"),
            F.max("j").alias("max_j"),
        )
        .selectExpr(
            "cluster AS cluster_id",
            "n_cells",
            "n_stations",
            "total_activity",
            "min_i", "max_i", "min_j", "max_j",
            "n_cells = 1 AS is_singleton",
        )
        .orderBy(F.desc("total_activity"), "cluster_id")
    )


QUERIES["geo_dbscan_clusters"] = geo_dbscan_clusters


def _geo_dbscan_oracle() -> str:
    offs_rows = ", ".join(f"({di}, {dj})" for di, dj in _NBR8)
    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        act AS (
            SELECT k, CAST(sum(flow) AS BIGINT) AS a FROM (
                SELECT o AS k, flow FROM flows WHERE o <> d
                UNION ALL
                SELECT d AS k, flow FROM flows WHERE o <> d
            ) GROUP BY k
        ),
        cells AS MATERIALIZED (
            SELECT CAST((k % 100) // 10 AS INT) AS i,
                   CAST(((k * 7) % 100) // 10 AS INT) AS j,
                   CAST(sum(a) AS BIGINT) AS x,
                   CAST(count(*) AS BIGINT) AS n_stations
            FROM act GROUP BY 1, 2
        ),
        tot AS (
            SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS t
            FROM cells
        ),
        dense AS MATERIALIZED (
            SELECT i, j, x, n_stations,
                   CAST(i * 10 + j AS BIGINT) AS cell
            FROM cells, tot WHERE x * n > t
        ),
        edges AS MATERIALIZED (
            SELECT s.cell AS a, t2.cell AS b
            FROM dense s
            JOIN (VALUES {offs_rows}) o(di, dj) ON true
            JOIN dense t2
              ON t2.i = s.i + o.di AND t2.j = s.j + o.dj
            WHERE s.cell < t2.cell
        ),
        bidir AS (
            SELECT a AS src, b AS dst FROM edges
            UNION ALL
            SELECT b, a FROM edges
        ),
        reach(id, lbl) AS (
            SELECT cell, cell FROM dense
            UNION
            SELECT e.dst, r.lbl
            FROM bidir e JOIN reach r ON e.src = r.id
        ),
        comp AS (
            SELECT id AS cell, min(lbl) AS cluster FROM reach
            GROUP BY id
        )
        SELECT c.cluster AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(d.n_stations) AS BIGINT) AS n_stations,
               CAST(sum(d.x) AS BIGINT) AS total_activity,
               min(d.i) AS min_i, max(d.i) AS max_i,
               min(d.j) AS min_j, max(d.j) AS max_j,
               count(*) = 1 AS is_singleton
        FROM dense d JOIN comp c USING (cell)
        GROUP BY c.cluster
        ORDER BY total_activity DESC, cluster_id
    """


ORACLES["geo_dbscan_clusters"] = _geo_dbscan_oracle()
