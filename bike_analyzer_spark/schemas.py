"""Explicit StructType schemas.

Two families:

1. Bike-domain tables, normative DDL at reference sql/schema.sql:3-46
   (stations / station_status) re-typed Spark-natively
   per SURVEY.md §1.2 — booleans as BooleanType, epochs and ISO strings
   as TimestampType, the comma-joined `rental_methods` as
   ArrayType(String), `vehicles_json` as ArrayType(Struct).

2. Driver testdata tables (/root/testdata/sf*/, TESTDATA.md) — read
   with these pinned schemas so plans never depend on inference.

Schema-on-write with explicit types replaces the reference's DDL
runner (db.py:16-25) and its silent null-filling ingest
(etl_gbfs.py:98-109).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- bike domain (reference sql/schema.sql) -----------------------------

VEHICLE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("vehicle_type_id", T.StringType()),
            T.StructField("count", T.IntegerType()),
        ]
    )
)

# reference sql/schema.sql:3-16 (stations dimension, SCD-1 upserted)
STATIONS = T.StructType(
    [
        T.StructField("station_id", T.StringType(), nullable=False),
        T.StructField("name", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("capacity", T.IntegerType()),
        T.StructField("address", T.StringType()),
        T.StructField("rental_methods", T.ArrayType(T.StringType())),
        T.StructField("is_virtual_station", T.BooleanType()),
        T.StructField("external_id", T.StringType()),
        T.StructField("short_name", T.StringType()),
        T.StructField("region_id", T.StringType()),
        T.StructField("last_updated", T.TimestampType()),
    ]
)

# reference sql/schema.sql:18-32 (append-only status fact; the
# autoincrement id is never queried in the reference and is dropped)
STATION_STATUS = T.StructType(
    [
        T.StructField("station_id", T.StringType(), nullable=False),
        T.StructField("num_bikes_available", T.IntegerType()),
        T.StructField("num_bikes_disabled", T.IntegerType()),
        T.StructField("num_docks_available", T.IntegerType()),
        T.StructField("num_docks_disabled", T.IntegerType()),
        T.StructField("is_installed", T.BooleanType()),
        T.StructField("is_renting", T.BooleanType()),
        T.StructField("is_returning", T.BooleanType()),
        T.StructField("last_reported", T.TimestampType()),
        T.StructField("scraped_at", T.TimestampType(), nullable=False),
        T.StructField("vehicles", VEHICLE_TYPE),
    ]
)

# --- driver testdata (/root/testdata, TESTDATA.md) -----------------------

TESTDATA = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts: LOGICAL type is a timestamp. The parquet PHYSICAL
    # unit has varied across testdata generations (TIMESTAMP(NANOS)
    # earlier, TIMESTAMP(MICROS) now) — sources.catalog sniffs the
    # footer unit per file and adapts the read schema; hard-coding
    # either unit here is exactly what broke round 5 (VERDICT r5 #1).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA)
