"""Differential-test harness mimicking the driver's correctness gate:
run the Spark query and the DuckDB oracle SQL on the same parquet,
compare row count, column names, column TYPES, and an
order-insensitive exact value multiset.

Strictness matters: round 1 shipped a query that was green here but
red under the driver because floats were collapsed to 6 sig-figs and
DuckDB's HUGEINT sums were stringified identically to bigints. Now
floats compare by full repr and every column's type family must agree
between engines, so local green predicts driver green.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

# spark dtype -> acceptable DuckDB type names (families, upper-case)
_TYPE_FAMILY = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "tinyint": {"TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"bool:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "float:nan"
        return f"float:{v!r}"  # full precision — no sig-fig collapsing
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in colnames), out


def spark_result(df):
    return _normalize([tuple(r) for r in df.collect()], df.columns)


def duck_result(con, sql):
    rel = con.sql(sql)
    types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}
    cols, rows = _normalize(rel.fetchall(), rel.columns)
    return cols, rows, types


def _assert_types(name, spark_dtypes, duck_types):
    for col, sdt in spark_dtypes:
        if col not in duck_types:
            continue
        base = sdt.split("(")[0]
        if base.startswith(("array", "struct", "map")):
            continue  # containers: element-level check via values
        fam = _TYPE_FAMILY.get(base)
        ddt = duck_types[col]
        assert fam is not None and ddt in fam, (
            f"{name}: column {col!r} type mismatch: spark={sdt} duckdb={ddt}"
        )


def assert_matches_oracle(spark_df, duck_con, oracle_sql, name=""):
    s_cols, s_rows = spark_result(spark_df)
    d_cols, d_rows, d_types = duck_result(duck_con, oracle_sql)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    _assert_types(name, spark_df.dtypes, d_types)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        assert a == b, f"{name}: row {i} differs:\n  spark={a}\n  duck ={b}"


def assert_same_rows_in_order(spark_df, duck_con, oracle_sql, name=""):
    """Row by row, in the oracle's ORDER BY order — for results whose
    order is part of the contract (`assert_matches_oracle` sorts)."""
    rel = duck_con.sql(oracle_sql)
    assert sorted(spark_df.columns) == sorted(rel.columns), name
    pick = [rel.columns.index(c) for c in spark_df.columns]
    want = [tuple(_norm_cell(r[i]) for i in pick) for r in rel.fetchall()]
    got = [tuple(_norm_cell(v) for v in r) for r in spark_df.collect()]
    assert got == want, f"{name}: rows differ or are out of order"
