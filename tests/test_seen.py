"""Seen-set law tests (SURVEY.md §5 item 4): the distributed
filter_new_urls never drops a new URL and never passes a seen one, and
its anti-join streams the bucketed base without shuffling it."""

import pytest
from pyspark.sql import functions as F

N_BUCKETS = 8


@pytest.fixture(scope="module")
def seen_tables(spark):
    from swspark.seen import with_url_identity

    urls = [f"https://news{i % 4}.example.test/articles/{i:06d}" for i in range(400)]
    seen = with_url_identity(
        spark.createDataFrame([(u,) for u in urls], "url string")
    ).select("url", "url_canon", "url_hash")
    return seen, urls


def test_filter_new_urls_exact(spark, seen_tables):
    from swspark.seen import filter_new_urls, with_url_identity

    seen, urls = seen_tables
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
    new = filter_new_urls(spark, cand, seen)
    got = sorted(r.url for r in new.collect())
    assert len(got) == 100
    assert all("fresh" in u for u in got)


def test_filter_new_urls_no_blooms_falls_back_to_join(spark, seen_tables):
    """The five-argument call (``blooms=None``, ``n_buckets``) that the
    benchmark harness makes is the same exact join; a filter object in
    the ``blooms`` slot is refused, since there is no prefilter."""
    from swspark.seen import filter_new_urls, with_url_identity

    seen, urls = seen_tables
    cand = with_url_identity(
        spark.createDataFrame([(urls[0],), ("https://zz.test/new",)], "url string")
    )
    new = filter_new_urls(spark, cand, seen)
    assert [r.url for r in new.collect()] == ["https://zz.test/new"]
    legacy = filter_new_urls(spark, cand, seen, None, N_BUCKETS)
    assert [r.url for r in legacy.collect()] == ["https://zz.test/new"]
    with pytest.raises(TypeError):
        filter_new_urls(spark, cand, seen, {0: b""}, N_BUCKETS)


def test_filter_new_urls_split_parts(spark, seen_tables):
    """seen may arrive as [base, delta] parts (SnapshotTable.read_split):
    anti-joining the parts sequentially equals anti-joining the union."""
    from swspark.seen import filter_new_urls, with_url_identity

    seen, urls = seen_tables
    base = seen.where(~seen.url.contains("news3"))
    delta = seen.where(seen.url.contains("news3"))
    cand_urls = urls[:40] + [f"https://newX.example.test/fresh/{i}" for i in range(40)]
    cand = with_url_identity(
        spark.createDataFrame([(u,) for u in cand_urls], "url string")
    )
    whole = filter_new_urls(spark, cand, seen)
    split = filter_new_urls(spark, cand, [base, delta])
    assert sorted(r.url for r in whole.collect()) == sorted(
        r.url for r in split.collect()
    )


def _nodes(plan):
    """Pre-order walk of a physical plan, into adaptive plans."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_filter_new_urls_streams_bucketed_base(spark, seen_tables, tmp_path):
    """Against a compacted seen table read through read_split, the
    base's anti-join is a sort-merge whose base side scans the bucket
    files as stored: no Exchange on that side, only on the candidates'."""
    from swspark.seen import filter_new_urls, with_url_identity
    from swspark.tables import SnapshotTable

    seen, urls = seen_tables
    keys = ["url_hash", "url_canon"]
    t = SnapshotTable(str(tmp_path / "seen"))
    t.commit(seen.withColumn("wave", F.lit(0)), mode="append", lineage={"wave": 0})
    t.compact(spark, {"by": keys, "n": N_BUCKETS, "sort": keys, "partition": ["wave"]},
              lineage={"wave": 0, "compacted_through": 0})
    fresh = with_url_identity(spark.createDataFrame(
        [(f"https://fresh.example.test/{i}",) for i in range(20)], "url string"
    ))
    t.commit(fresh.select("url", "url_canon", "url_hash", F.lit(1).alias("wave")),
             mode="append", lineage={"wave": 1})
    parts = t.read_split(spark)
    assert len(parts) == 2
    cand = with_url_identity(spark.createDataFrame(
        [(u,) for u in urls[:30] + [f"https://fresh.example.test/{i}" for i in range(10)]
         + [f"https://new.example.test/{i}" for i in range(5)]],
        "url string",
    ))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")  # the base must not broadcast
    try:
        new = filter_new_urls(spark, cand, parts)
        plan = new._jdf.queryExecution().executedPlan()
        smj = [n for n in _nodes(plan) if n.nodeName() == "SortMergeJoin"]
        assert len(smj) == 1
        base_side = list(_nodes(smj[0].right()))
        scans = [n for n in base_side if n.nodeName().startswith("Scan")]
        assert len(scans) == 1
        assert "Bucketed: true" in scans[0].verboseStringWithOperatorId()
        assert not [n for n in base_side if "Exchange" in n.nodeName()]
        assert sorted(r.url for r in new.collect()) == [
            f"https://new.example.test/{i}" for i in range(5)
        ]
    finally:
        spark.conf.set(key, prev)
