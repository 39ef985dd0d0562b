"""Smoke tests for the driver contract surface."""

import pkgutil
from importlib import import_module

import __spark_entry__ as entrymod
from bike_analyzer_spark import operators


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_aligned():
    """No Spark needed: queries() and oracle_sql() name the same
    queries, and every operator module that defines QUERIES is
    registered. Per-query checks live in tests/test_rotation.py."""
    qs = entrymod.queries()
    assert qs, "queries() must not be empty"
    assert set(qs) == set(entrymod.oracle_sql())

    defining = {
        info.name
        for info in pkgutil.iter_modules(operators.__path__)
        if hasattr(import_module(f"{operators.__name__}.{info.name}"),
                   "QUERIES")
    }
    assert defining == set(entrymod.MODULE_NAMES)
