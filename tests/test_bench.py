"""bench.py helpers that other tools import: the steal-share reader
behind the summary's `steal_pct`, and the between-query cleanup that
perfbench's probe and scripts/full_sim.py call."""

from bench import _cpu_jiffies, _free_leaked_blocks


def test_cpu_jiffies_shape():
    # steal provenance (r12): (steal, total) jiffies, total > steal
    # >= 0 on Linux; None is tolerated off-Linux but not here.
    j = _cpu_jiffies()
    assert j is not None
    steal, total = j
    assert 0 <= steal < total


def test_free_leaked_blocks_empties_persistent_rdds_and_cache(spark):
    jsc = spark.sparkContext._jsc
    _free_leaked_blocks(spark)
    assert len(jsc.getPersistentRDDs()) == 0

    spark.range(100).localCheckpoint(eager=True)
    cached = spark.range(50).selectExpr("id * 2 AS x").cache()
    cached.count()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert len(jsc.getPersistentRDDs()) >= 1
    assert not cache_manager.isEmpty()

    _free_leaked_blocks(spark)
    assert len(jsc.getPersistentRDDs()) == 0
    assert cache_manager.isEmpty()
