"""Distributed per-host rank (r5): sample-boundary bucketing +
per-bucket windows + broadcast offsets must return BYTE-IDENTICAL
schedules to the single-window / two-phase rank, for adversarial
order columns — including the cases that defeat any lossy numeric
key coarsening: sub-second timestamp ties with inversely-ordered
urls, priorities outside any clamp range, unicode urls, heavy ties.

Reference semantics pinned: deterministic per-host ordering
(priority DESC, last_fetch_ts ASC NULLS FIRST, url ASC) — SURVEY §4.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from swspark.scheduler import (
    Throttle,
    rank_frontier_distributed,
    sample_order_bounds,
    schedule_wave,
)

N_PER_HOST = 3000


@pytest.fixture(scope="module")
def frontier(spark):
    # 3 hosts x 3000 rows: mixed priorities (incl. values beyond any
    # byte clamp and negatives), fetch timestamps with SUB-SECOND
    # deltas whose url order runs OPPOSITE to ts order (the case a
    # bucketed ts key silently mis-orders), unicode/short urls, ties
    df = spark.range(3 * N_PER_HOST).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 3).cast("string"),
            F.lit(".test/"),
            F.when(F.col("id") % 7 == 0, F.lit("café/"))
            .when(F.col("id") % 11 == 0, F.lit(""))  # short urls
            .otherwise(F.lit("p/")),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string"),
                 F.lit(".test")).alias("host"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .when(F.col("id") % 13 == 0, F.lit(900))  # beyond 7-bit clamp
        .when(F.col("id") % 17 == 0, F.lit(-4))
        .otherwise((F.col("id") % 4).cast("int"))
        .cast("int").alias("priority"),
        F.when(
            F.col("id") % 6 == 0,
            # microsecond-resolution ts DESCENDING in id while urls
            # ascend lexicographically-ish: ts order != url order
            F.timestamp_seconds(
                F.lit(1700000000.0) - F.col("id") * F.lit(0.000251)
            ),
        ).otherwise(F.lit(None).cast("timestamp")).alias("last_fetch_ts"),
    )
    return df


@pytest.fixture(scope="module")
def budgets(spark):
    return spark.createDataFrame(
        [("h0.test", 1.0), ("h1.test", 0.25), ("h2.test", None)],
        "host string, crawl_delay double",
    )


def _collect(df):
    return sorted(
        (r.host, r.url, r.rank) for r in df.select("host", "url", "rank").collect()
    )


def _truth_rank(frontier):
    w = Window.partitionBy("host").orderBy(
        F.desc_nulls_last("priority"),
        F.asc_nulls_first("last_fetch_ts"),
        F.asc("url"),
    )
    return frontier.withColumn("rank", F.row_number().over(w))


def test_distributed_rank_exact_vs_single_window(spark, frontier):
    bounds = sample_order_bounds(frontier, n_buckets=23)
    assert len(bounds) >= 8  # buckets genuinely split the hosts
    got = rank_frontier_distributed(frontier, bounds)
    truth = _truth_rank(frontier)
    mism = (
        got.alias("g")
        .join(truth.alias("t"), ["host", "url"])
        .where(F.col("g.rank") != F.col("t.rank"))
        .count()
    )
    assert mism == 0
    assert got.count() == frontier.count()


def test_distributed_schedule_identical_to_two_phase(spark, frontier, budgets):
    kw = dict(wave_period=10.0, throttle=Throttle("CONCURRENT", 7))
    plain = schedule_wave(frontier, budgets, strategy="two_phase", **kw)
    dist = schedule_wave(
        frontier, budgets, bounds=sample_order_bounds(frontier, 23), **kw
    )
    a, b = _collect(plain), _collect(dist)
    assert a == b
    assert len(a) > 0


def test_distributed_with_backoff_and_cap(spark, frontier, budgets):
    kw = dict(wave_period=10.0, throttle=Throttle("PER_SECOND", 0.5),
              max_urls_per_wave=9)
    bb = budgets.withColumn(
        "backoff_k",
        F.when(F.col("host") == "h1.test", F.lit(2)).otherwise(F.lit(None)),
    )
    plain = schedule_wave(frontier, bb, strategy="two_phase", **kw)
    dist = schedule_wave(
        frontier, bb, bounds=sample_order_bounds(frontier, 23), **kw
    )
    assert _collect(plain) == _collect(dist)


def test_budget_prune_cuts_shuffle_rows_exactly(spark, frontier, budgets):
    """The _off >= budget pre-shuffle cut must change row COUNTS
    upstream but never the schedule (politeness shape: pending >>
    budget)."""
    kw = dict(wave_period=10.0, throttle=Throttle("CONCURRENT", 3))
    plain = schedule_wave(frontier, budgets, strategy="two_phase", **kw)
    dist = schedule_wave(
        frontier, budgets, bounds=sample_order_bounds(frontier, 64), **kw
    )
    assert _collect(plain) == _collect(dist)
    # every host's schedule is exactly its budget (3000 pending >> 3)
    per_host = {
        r.host: r.n
        for r in dist.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert all(1 <= n <= 40 for n in per_host.values()), per_host


def test_budget_spanning_multiple_buckets(spark, frontier, budgets):
    """Budget LARGER than a bucket: several buckets survive the _off
    prune and the final rank cut (local + offset vs budget) must
    apply — the case a budget << bucket_size run never exercises."""
    kw = dict(wave_period=10.0, throttle=Throttle("CONCURRENT", 700))
    plain = schedule_wave(frontier, budgets, strategy="two_phase", **kw)
    dist = schedule_wave(
        frontier, budgets, bounds=sample_order_bounds(frontier, 64), **kw
    )
    assert _collect(plain) == _collect(dist)
    # and per host exactly budget rows (3000 pending >> 700)
    per_host = {
        r.host: r.n
        for r in dist.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    # per-host budget: floor(10/1.0)=10, floor(10/0.25)=40, cap 700
    assert per_host == {"h0.test": 10, "h1.test": 40, "h2.test": 700}


def test_tiny_and_empty_frontier(spark, budgets):
    empty = spark.createDataFrame(
        [], "url string, host string, priority int, last_fetch_ts timestamp"
    )
    assert schedule_wave(empty, budgets, 10.0).count() == 0
    one = spark.createDataFrame(
        [("https://h0.test/a", "h0.test", None, None)],
        "url string, host string, priority int, last_fetch_ts timestamp",
    )
    rows = schedule_wave(one, budgets, 10.0).collect()
    assert len(rows) == 1 and rows[0].rank == 1


def test_boundary_source_superset_is_exact(spark, frontier, budgets):
    """Boundaries sampled from a SUPERSET (pre-anti-join frontier)
    only steer balance; results stay identical."""
    sub = frontier.where(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    kw = dict(wave_period=10.0, throttle=Throttle("CONCURRENT", 9))
    plain = schedule_wave(sub, budgets, strategy="two_phase", **kw)
    bounds = sample_order_bounds(frontier, 23, approx_count=3 * N_PER_HOST)
    dist = schedule_wave(sub, budgets, bounds=bounds, **kw)
    assert _collect(plain) == _collect(dist)
