"""The one timing protocol in ``bench.py`` (reset / force / warm /
time_query) that bench.py and the tools share, and the table replicator
in ``tools/make_sf1.py`` that scale curves run on."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import bench
import make_sf1


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _with_memory_sink(spark, sf_dir):
    """A registry query that leaves a memory-sink temp view behind."""
    from pygdf_spark.queries import registry

    return registry()[0]["sstream_tumbling_live"](spark, sf_dir)


@pytest.mark.parametrize("path, sf", [
    ("/data/tpch/sf0.1/", 0.1),
    ("sf0.001", 0.001),
    ("/tmp/pygdf_sf1", None),
    ("/tmp/pygdf_x8", None),
])
def test_scale_factor(path, sf):
    assert bench.scale_factor(path) == sf


def test_reset_drops_cached_frames_and_sink_views(spark, sf_dir, jobs):
    bench.reset(spark)
    before = _views(spark)
    bench.force(_with_memory_sink(spark, sf_dir))
    assert len(_views(spark) - before) == 1  # the stream's sink
    spark.range(5).cache().count()
    spark.range(3).createOrReplaceTempView("harness_keep_me")
    assert not _cache_empty(spark)
    assert jobs(lambda: bench.reset(spark))[1] == 0
    assert _cache_empty(spark)
    assert _views(spark) == before | {"harness_keep_me"}
    spark.catalog.dropTempView("harness_keep_me")


def test_time_query_resets_before_every_attempt(spark, sf_dir):
    bench.reset(spark)
    before = _views(spark)
    seen = []

    def fn(spark, sf_dir):
        seen.append((_views(spark), _cache_empty(spark)))
        spark.range(7).cache().count()
        return _with_memory_sink(spark, sf_dir)

    samples = bench.time_query(spark, fn, sf_dir, runs=3)
    assert len(samples) == 3
    assert all(s > 0 for s in samples)
    assert seen == [(before, True)] * 3
    assert len(_views(spark) - before) == 1  # the last attempt's sink
    bench.reset(spark)


def test_make_sf1_replicates_with_referential_integrity(spark, sf_dir, tmp_path):
    out = str(tmp_path / "x2")
    make_sf1.build(spark, sf_dir, out, replicas=2)

    def read(t, d=out):
        return spark.read.parquet(os.path.join(d, f"{t}.parquet"))

    for t in make_sf1._TABLE_KEYS:
        factor = 1 if t in ("nation", "region") else 2
        assert read(t).count() == factor * read(t, sf_dir).count(), t
    orders, lineitem, customer = read("orders"), read("lineitem"), read("customer")
    assert orders.select("o_orderkey").distinct().count() == orders.count()
    assert lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey,
                         "left_anti").count() == 0
    assert orders.join(customer, orders.o_custkey == customer.c_custkey,
                       "left_anti").count() == 0
