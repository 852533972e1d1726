"""Local-checkpoint lifecycle: ``lineage.release`` frees what ``cut``
stored, and a crawl run leaves only its fixture caches behind."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.lineage import cut, release
from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig, CrawlEngine


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cache_rdd(df) -> int:
    return df._jdf.queryExecution().withCachedData().cacheBuilder().cachedColumnBuffers().id()


def test_cut_is_lazy_and_release_frees_it(spark):
    before = _stored_rdds(spark)
    held: list = []
    df = cut(spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count(), held)
    assert held == [df]
    assert _stored_rdds(spark) == before
    assert df.count() == 7
    assert sorted(r["count"] for r in df.collect()) == [142] + [143] * 6
    assert len(_stored_rdds(spark) - before) == 1
    release(held)
    assert _stored_rdds(spark) == before


def test_run_releases_round_checkpoints(spark, tmp_path):
    cfg = CrawlConfig(n_urls=600, n_pages=60, n_hosts=20, host_budget=4,
                      validate_pixels=False)
    before = _stored_rdds(spark)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ck"))
    fixtures = (eng.links, eng.pages, eng.robots, eng.outlinks)
    try:
        eng.run(rounds=2)
        assert len(eng.metrics) == 2
        assert _stored_rdds(spark) - before == {_cache_rdd(f) for f in fixtures}
    finally:
        for f in fixtures:
            f.unpersist(blocking=True)
    assert _stored_rdds(spark) == before
