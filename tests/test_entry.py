"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert "q1_pricing_summary" in qs
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_all_queries_run_on_smoke_sf(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, entrymod.SMOKE_SF_DIR)
        assert df.columns, name


def test_persist_scoped_frames_die_with_their_query(spark):
    """A registry-dispatched query's internal persist() frames unpersist
    when the caller drops its reference to the returned DataFrame. x3v
    persists two frames (cells, truth); after forcing the query and
    dropping the result, the CacheManager must be empty again."""
    import gc

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    qs = entrymod.queries()
    df = qs["x3v_knn_graph_recall"](spark, entrymod.SMOKE_SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert not cm.isEmpty()  # the multi-consumer persists were live
    del df
    gc.collect()
    assert cm.isEmpty(), "persist_scoped frames outlived the query result"


def test_dispatch_keeps_callers_caches_and_held_results(spark):
    """Dispatching a query leaves the session's other caches alone: a
    REST result the caller still holds stays readable after its mock
    server has stopped and another query has run, and a table the
    caller cached beforehand stays cached."""
    from pyspark import StorageLevel

    mine = spark.range(1000).cache()
    mine.count()
    try:
        qs = entrymod.queries()
        s1 = qs["s1_rest_source"](spark, entrymod.SMOKE_SF_DIR)
        assert s1.count() == 500
        qs["q1_pricing_summary"](spark, entrymod.SMOKE_SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        assert s1.count() == 500  # served from cache; the server is gone
        assert mine.storageLevel != StorageLevel.NONE
    finally:
        mine.unpersist()


def test_rest_result_cache_dies_with_the_result(spark):
    """A REST reader returns its own persisted frame; that cache lives
    exactly as long as the returned DataFrame."""
    import gc

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = entrymod.queries()["s1_rest_source"](spark, entrymod.SMOKE_SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert not cm.isEmpty()
    del df
    gc.collect()
    assert cm.isEmpty(), "the REST result's cache outlived the result"


def test_failed_build_releases_its_persists(spark):
    """A build that raises after persisting leaves nothing cached."""
    import pytest

    from ssn_college_software_architecture_assignments__spark import registry
    from ssn_college_software_architecture_assignments__spark.scratch import (
        persist_scoped,
    )

    name = "_test_failing_build"

    @registry.register(name)
    def failing_build(spark, sf_dir):
        persist_scoped(spark.range(100)).count()
        raise RuntimeError("planted build failure")

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        with pytest.raises(RuntimeError, match="planted build failure"):
            registry._REGISTRY[name].fn(spark, entrymod.SMOKE_SF_DIR)
    finally:
        del registry._REGISTRY[name]
    assert cm.isEmpty(), "a failed build leaked its persisted frames"


def test_concurrent_dispatch_matches_sequential(spark):
    """Two registered queries on two threads of one session give their
    sequential results; x3v persists internally, s1 returns a persisted
    frame whose source is gone once the build returns."""
    from concurrent.futures import ThreadPoolExecutor

    qs = entrymod.queries()
    names = ("s1_rest_source", "x3v_knn_graph_recall")

    def run(name):
        return sorted(qs[name](spark, entrymod.SMOKE_SF_DIR).collect())

    sequential = [run(n) for n in names]
    with ThreadPoolExecutor(max_workers=2) as pool:
        concurrent = list(pool.map(run, names))
    assert concurrent == sequential
