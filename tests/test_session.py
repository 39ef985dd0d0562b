"""Session settings (see bike_analyzer_spark/session.py): the two
`get_spark` builder constants, fixed once per process so only the
builder can set them, and what `configure` leaves to the caller."""


def test_builder_sets_codegen_cache_and_call_site_capture_off(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


def test_configure_keeps_callers_aqe_setting(spark):
    """`configure` leaves AQE as the caller set it: a caller that
    turned AQE off before the first table read keeps it off."""
    from bike_analyzer_spark.session import _CONFIGURED_FLAG, configure

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    spark.conf.unset(_CONFIGURED_FLAG)
    try:
        configure(spark)
        assert spark.conf.get(key) == "false"
        assert spark.conf.get(_CONFIGURED_FLAG) == "true"
    finally:
        spark.conf.set(key, before)
        configure(spark)
