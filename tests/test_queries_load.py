"""queries.load's per-session scan cache: hits re-serve the same
analyzed scan, and entries live only as long as their session."""

from __future__ import annotations

import gc
import weakref


def test_load_cache_hit_reuses_scan(spark, sf_dir):
    from dask_spark import queries

    a = queries.load(spark, sf_dir, "region")
    b = queries.load(spark, sf_dir, "region")
    assert a._sdf is not b._sdf
    assert a._sdf._jdf.equals(b._sdf._jdf)
    assert (sf_dir, "region") in queries._LOAD_CACHE[spark]
    assert b.compute().equals(a.compute())


def test_load_cache_drops_dead_session(spark, sf_dir):
    """The cache is keyed weakly by session, so a session that is no
    longer referenced takes its entries with it. (Creating a session
    re-points pyspark's ``RDD.toDF`` at it, which would pin it; the
    original is put back first.)"""
    from pyspark import RDD

    from dask_spark import queries

    to_df = RDD.toDF
    try:
        other = spark.newSession()
        assert queries.load(other, sf_dir, "nation").compute().shape[0] == 25
        assert (sf_dir, "nation") in queries._LOAD_CACHE[other]
    finally:
        RDD.toDF = to_df
    n = len(queries._LOAD_CACHE)
    ref = weakref.ref(other)
    del other
    gc.collect()
    assert ref() is None
    assert len(queries._LOAD_CACHE) == n - 1


def test_registry_order():
    """Every registered query appears exactly once, in one ordering:
    the 50-query correctness window first, the rows-only queries (the
    ones without an oracle) last."""
    from dask_spark import queries

    names = list(queries.REGISTRY)
    assert len(names) == len(set(names)) == 297
    front, rows_only = queries._WINDOW_FRONT, queries._ROWS_ONLY
    assert len(front) == len(set(front)) == 50
    assert names[:50] == front
    assert names[-len(rows_only):] == rows_only
    assert {n for n, (_, sql) in queries.REGISTRY.items() if sql is None} \
        == set(rows_only)
