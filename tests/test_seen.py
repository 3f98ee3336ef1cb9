"""Seen-set law tests (SURVEY.md §5 item 4): Bloom has no false
negatives and bounded FPR; the distributed filter_new_urls never
drops a new URL and never passes a seen one."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from swspark.seen import BloomFilter


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives(xs):
    bf = BloomFilter.sized_for(len(xs), 0.01)
    arr = np.array(xs, dtype=np.int64)
    bf.add_many(arr)
    if len(xs):
        assert bf.contains_many(arr).all()


def test_bloom_fpr_bound():
    rng = np.random.default_rng(42)
    n = 20_000
    members = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    bf = BloomFilter.sized_for(n, 0.01)
    bf.add_many(members)
    probes = rng.integers(-(2**62), 2**62, 100_000, dtype=np.int64)
    probes = np.setdiff1d(probes, members)
    fpr = bf.contains_many(probes).mean()
    assert fpr < 0.02, fpr  # 2x sized-for bound


def test_bloom_serialization_roundtrip():
    bf = BloomFilter.sized_for(100, 0.01)
    arr = np.arange(100, dtype=np.int64) * 7919
    bf.add_many(arr)
    bf2 = BloomFilter.from_bytes(bf.m, bf.k, bf.to_bytes())
    assert bf2.contains_many(arr).all()


def test_bloom_merge():
    a = BloomFilter(1024, 3)
    b = BloomFilter(1024, 3)
    xa = np.arange(50, dtype=np.int64)
    xb = np.arange(50, 100, dtype=np.int64)
    a.add_many(xa)
    b.add_many(xb)
    a.merge(b)
    assert a.contains_many(np.arange(100, dtype=np.int64)).all()


N_BUCKETS = 8


@pytest.fixture(scope="module")
def seen_tables(spark):
    from pyspark.sql import functions as F

    from swspark.seen import build_filter_shards, load_shards, with_url_identity

    urls = [f"https://news{i % 4}.example.test/articles/{i:06d}" for i in range(400)]
    seen = with_url_identity(
        spark.createDataFrame([(u,) for u in urls], "url string")
    ).select("url", "url_canon", "url_hash")
    shards_df = build_filter_shards(seen, N_BUCKETS)
    blooms = load_shards(shards_df)
    return seen, blooms, urls


def test_filter_new_urls_exact(spark, seen_tables):
    from swspark.seen import filter_new_urls, with_url_identity

    seen, blooms, urls = seen_tables
    assert len(blooms) <= N_BUCKETS
    # candidates: 100 seen + 100 new (+ one seen-but-different-case url
    # that canonicalization must equate)
    cand_urls = (
        urls[:100]
        + [f"https://newX.example.test/fresh/{i}" for i in range(100)]
        + ["HTTPS://NEWS0.EXAMPLE.TEST/articles/000000"]
    )
    cand = with_url_identity(
        spark.createDataFrame([(u,) for u in cand_urls], "url string")
    )
    new = filter_new_urls(spark, cand, seen, blooms, N_BUCKETS)
    got = sorted(r.url for r in new.collect())
    assert len(got) == 100
    assert all("fresh" in u for u in got)


def test_filter_new_urls_no_blooms_falls_back_to_join(spark, seen_tables):
    from swspark.seen import filter_new_urls, with_url_identity

    seen, _blooms, urls = seen_tables
    cand = with_url_identity(
        spark.createDataFrame([(urls[0],), ("https://zz.test/new",)], "url string")
    )
    new = filter_new_urls(spark, cand, seen, None, N_BUCKETS)
    assert [r.url for r in new.collect()] == ["https://zz.test/new"]


def test_bloom_geometry_from_cardinality():
    """VERDICT r2 #5: geometry must derive from expected cardinality —
    the fixed 2^20 default saturates past ~10^6 URLs/bucket."""
    from swspark.seen import BloomFilter, bloom_geometry

    m, k = bloom_geometry(10_000_000, 16, fpp=0.01)
    # power-of-two bits (OR-mergeable fixed geometry), sane k
    assert m & (m - 1) == 0 and 1 <= k <= 16
    # empirical FPR at the design load stays near the target
    bf = BloomFilter(m, k)
    n_per_bucket = 10_000_000 // 16
    rng = np.random.default_rng(1)
    items = rng.integers(-(2**62), 2**62, size=n_per_bucket, dtype=np.int64)
    bf.add_many(items)
    probes = rng.integers(-(2**62), 2**62, size=200_000, dtype=np.int64)
    fpr = bf.contains_many(probes).mean()
    assert fpr < 0.02, fpr
    # and the geometry really scales with n (10^10 >> 10^7)
    m_big, _ = bloom_geometry(10_000_000_000, 16)
    assert m_big >= 512 * m // 1024  # strictly larger filters
    assert m_big > m


def test_filter_new_urls_split_parts(spark, seen_tables):
    """seen may arrive as [base, delta] parts (SnapshotTable.read_split):
    anti-joining the parts sequentially equals anti-joining the union."""
    from swspark.seen import filter_new_urls, with_url_identity

    seen, blooms, urls = seen_tables
    base = seen.where(~seen.url.contains("news3"))
    delta = seen.where(seen.url.contains("news3"))
    cand_urls = urls[:40] + [f"https://newX.example.test/fresh/{i}" for i in range(40)]
    cand = with_url_identity(
        spark.createDataFrame([(u,) for u in cand_urls], "url string")
    )
    whole = filter_new_urls(spark, cand, seen, blooms, N_BUCKETS)
    split = filter_new_urls(spark, cand, [base, delta], blooms, N_BUCKETS)
    assert sorted(r.url for r in whole.collect()) == sorted(
        r.url for r in split.collect()
    )


def test_filter_new_urls_rebuilt_after_bloom_merge(spark, seen_tables):
    """filter_new_urls broadcasts the Bloom bytes eagerly and reads a
    blooms dict that the driver's per-wave ``add_hashes`` mutates in
    place: a repeat call after a merge must probe the merged filters,
    never hand back the first call's plan. ``seen`` holds URLs that the
    filters do not hold yet, so only the merge turns them from
    'definitely new' into suspects that the exact join drops."""
    from swspark.seen import (
        add_hashes, build_filter_shards, filter_new_urls, load_shards,
        with_url_identity,
    )

    seen, _blooms, _urls = seen_tables
    m, k = 1 << 13, 7
    blooms = load_shards(build_filter_shards(seen, N_BUCKETS, fixed_bits=m, fixed_k=k))
    fresh = with_url_identity(spark.createDataFrame(
        [(f"https://fresh.example.test/{i}",) for i in range(50)], "url string"
    ))
    seen_plus = seen.unionByName(fresh.select("url", "url_canon", "url_hash"))

    first = filter_new_urls(spark, fresh, seen_plus, blooms, N_BUCKETS)
    assert first.count() == 50  # the stale filters skip the exact join

    hashes = np.array([r.url_hash for r in fresh.collect()], dtype=np.int64)
    add_hashes(blooms, hashes, N_BUCKETS, m, k)
    second = filter_new_urls(spark, fresh, seen_plus, blooms, N_BUCKETS)
    assert second is not first
    assert second.collect() == []
    assert first.count() == 50  # the first plan keeps its own broadcast
