"""`get_spark` builder constants: both are fixed once per process, so
only the builder can set them (see bike_analyzer_spark/session.py)."""


def test_builder_sets_codegen_cache_and_call_site_capture_off(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
