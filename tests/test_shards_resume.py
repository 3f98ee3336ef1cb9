"""Bloom seen-filter as derived state: fixed-geometry shards OR-merge,
the driver's per-wave ``add_hashes`` agrees with the distributed build
bit for bit, and resume rebuilds the live filters from ``seen``."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_fixed_geometry_delta_merge(spark):
    from swspark.seen import add_hashes, build_filter_shards, load_shards

    a = spark.createDataFrame([(i,) for i in range(0, 200)], "url_hash long")
    b = spark.createDataFrame([(i,) for i in range(200, 400)], "url_hash long")
    sh_a = build_filter_shards(a, 4, fixed_bits=1 << 14, fixed_k=5)
    sh_b = build_filter_shards(b, 4, fixed_bits=1 << 14, fixed_k=5)
    merged = load_shards(sh_a.unionByName(sh_b))
    h = np.arange(400, dtype=np.int64)
    buckets = np.mod(h, 4)
    for bkt in range(4):
        assert merged[bkt].contains_many(h[buckets == bkt]).all()
    # the driver's per-wave update yields the distributed build's bits
    live: dict = {}
    add_hashes(live, h, 4, 1 << 14, 5)
    assert live.keys() == merged.keys()
    for bkt in range(4):
        assert np.array_equal(live[bkt].bits, merged[bkt].bits)


def test_geometry_mismatch_raises(spark):
    from swspark.seen import build_filter_shards, load_shards

    a = spark.createDataFrame([(i,) for i in range(0, 50)], "url_hash long")
    sh1 = build_filter_shards(a, 2, fixed_bits=1 << 12, fixed_k=3)
    sh2 = build_filter_shards(a, 2, fixed_bits=1 << 13, fixed_k=3)
    with pytest.raises(ValueError, match="geometry"):
        load_shards(sh1.unionByName(sh2))


def test_resume_uses_persisted_shards(spark, tmp_path, monkeypatch):
    """The persisted state resume reads is ``seen`` alone: over a
    4-fetch-wave crawl that crosses two compactions, the filters rebuilt
    on resume equal the uninterrupted run's live filters bit for bit,
    the warehouse holds no shards table, and a resume under another
    ``expected_total_urls`` rebuilds at the new geometry."""
    from swspark import driver
    from swspark.driver import CrawlConfig, CrawlRun, CrawlState, crawl, open_crawl
    from swspark.fixtures import generate_corpus
    from swspark.seen import bloom_geometry

    c = generate_corpus("tiny")
    T = dict(
        pages=spark.createDataFrame(c.pages),
        sitemaps=spark.createDataFrame(c.sitemaps),
        robots=spark.createDataFrame(c.robots[["host", "body"]]),
        seeds=spark.createDataFrame(c.seeds),
    )
    runs = []

    def spy(run, *args):
        runs.append(run)
        return open_crawl(run, *args)

    monkeypatch.setattr(driver, "open_crawl", spy)
    wh = str(tmp_path)
    cfg = CrawlConfig(spec="fandom", compact_every_waves=2)
    totals = crawl(
        spark, cfg, wh, T["seeds"].where(F.col("scenario") == "wiki_pages"),
        T["sitemaps"], T["robots"], T["pages"],
    )
    assert totals["waves"] >= 4, totals
    live = runs[0].blooms
    assert not os.path.exists(os.path.join(wh, "shards"))

    def resumed(config):
        run = CrawlRun(spark, config, CrawlState(wh), rules_table=None)
        open_crawl(run, None, None, None, resume=True)
        return run.blooms

    rebuilt = resumed(cfg)
    assert rebuilt.keys() == live.keys()
    for b, bf in live.items():
        assert (rebuilt[b].m, rebuilt[b].k) == (bf.m, bf.k)
        assert np.array_equal(rebuilt[b].bits, bf.bits), b

    # another expected cardinality -> the new geometry, no false negatives
    cfg2 = CrawlConfig(spec="fandom", compact_every_waves=2,
                       expected_total_urls=100_000_000)
    m2, k2 = bloom_geometry(cfg2.expected_total_urls, driver.N_SEEN_BUCKETS)
    assert m2 != live[next(iter(live))].m
    blooms2 = resumed(cfg2)
    hashes = np.array([r.url_hash for r in CrawlState(wh).seen.read(spark).collect()],
                      dtype=np.int64)
    buckets = np.mod(hashes, driver.N_SEEN_BUCKETS)
    assert set(blooms2) == set(np.unique(buckets).tolist())
    for b, bf in blooms2.items():
        assert (bf.m, bf.k) == (m2, k2)
        assert bf.contains_many(hashes[buckets == b]).all()
