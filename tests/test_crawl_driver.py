"""Crawl-driver integration tests (SURVEY.md §5 items 3-5): golden
crawl-order traces, seen-set dedup law, checkpoint/resume equality."""

import math
import os
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import crawl_trace
from swspark.driver import CrawlConfig, CrawlState, crawl
from swspark.fixtures import generate_corpus

WAVE_PERIOD = 10.0


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus("tiny")


@pytest.fixture(scope="module")
def tables(spark, corpus):
    return {
        "pages": spark.createDataFrame(corpus.pages),
        "sitemaps": spark.createDataFrame(corpus.sitemaps),
        "robots": spark.createDataFrame(corpus.robots[["host", "body"]]),
        "seeds": spark.createDataFrame(corpus.seeds),
    }


def scenario_seeds(tables, scenario):
    return tables["seeds"].where(F.col("scenario") == scenario)


def accept_term(url, kind):
    return F.when(kind == "URLSET", url.contains("term=")).otherwise(F.lit(True))


def run_crawl(spark, tables, scenario, warehouse, spec, accept=None, **kw):
    cfg = CrawlConfig(spec=spec, wave_period=WAVE_PERIOD, **kw)
    return cfg, crawl(
        spark,
        cfg,
        str(warehouse),
        scenario_seeds(tables, scenario),
        tables["sitemaps"],
        tables["robots"],
        tables["pages"],
        accept=accept,
    )


def expected_trace(urls_by_host: dict[str, list[str]], delays: dict[str, float]):
    """Independent (pandas-free) scheduling simulation: budget =
    max(1, floor(period/delay)); rank order = url ASC (equal priority,
    null last_fetch_ts); URLs leave the frontier once scheduled."""
    remaining = {h: sorted(set(us)) for h, us in urls_by_host.items()}
    trace = []
    wave = 0
    while any(remaining.values()):
        for h in sorted(remaining):
            budget = max(1, math.floor(WAVE_PERIOD / delays[h]))
            batch = remaining[h][:budget]
            remaining[h] = remaining[h][budget:]
            for rank, u in enumerate(batch, start=1):
                trace.append((wave, h, u, rank))
        wave += 1
    return pd.DataFrame(trace, columns=["wave", "host", "url", "rank"])


def test_dict_crawl_golden_trace_and_dedup(spark, corpus, tables, tmp_path):
    cfg, totals = run_crawl(
        spark, tables, "dict_sitemap", tmp_path / "w1", "urbandict",
        accept=accept_term,
    )
    state = CrawlState(str(tmp_path / "w1"))
    trace = crawl_trace(spark, state).toPandas()

    # dedup law: no URL scheduled twice despite 5% duplicate sitemap
    # entries (FIXTURES.md §2)
    assert trace.url.is_unique

    # golden trace: all accepted dict term urls (incl 404s, which are
    # attempted once), ranked by url per wave under budget 10/0.5=20
    dict_urls = sorted(
        u
        for u in set(
            corpus.golden_urbandict.url.tolist() + corpus.missing_urls
        )
    )
    delays = dict(zip(corpus.robots.host, corpus.robots.crawl_delay))
    exp = expected_trace({"dict.example.test": dict_urls}, delays)
    got = trace.sort_values(["wave", "host", "url"]).reset_index(drop=True)
    exp = exp.sort_values(["wave", "host", "url"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["wave", "host", "url", "rank"]].astype({"wave": int, "rank": int}),
        exp.astype({"wave": int, "rank": int}),
    )

    # records match goldens
    rec = state.records.read(spark).drop("wave").toPandas()
    exp_rec = corpus.golden_urbandict
    key = ["url", "def_index"]
    pd.testing.assert_frame_equal(
        rec.sort_values(key).reset_index(drop=True)[exp_rec.columns.tolist()],
        exp_rec.sort_values(key).reset_index(drop=True),
    )

    # 404 accounting: one download error, attempted exactly once
    errs = state.errors.read(spark).toPandas()
    dl = errs[errs.stage == "download"]
    assert sorted(dl.url) == sorted(corpus.missing_urls)

    # the totals come from the waves' commit lineage, not table scans:
    # on a fresh warehouse they equal the tables' row counts
    for name in ("records", "seen"):
        assert totals[name] == getattr(state, name).read(spark).count(), name
    # the urbandict pages send no URLs
    assert totals["discovered"] == 0, totals


def test_wiki_crawl_discovery_and_budgets(spark, corpus, tables, tmp_path):
    cfg, totals = run_crawl(
        spark, tables, "wiki_pages", tmp_path / "w2", "fandom"
    )
    # one wave log: the schedule is committed once, to seen
    assert sorted(os.listdir(tmp_path / "w2")) == [
        "errors", "frontier", "records", "seen",
    ]
    state = CrawlState(str(tmp_path / "w2"))
    trace = crawl_trace(spark, state).toPandas()
    assert trace.url.is_unique
    # the sendUrl edges are counted, not written: the total is the
    # golden edges of the fetched pages, and each fetch wave's frontier
    # lineage carries its own count
    edges = corpus.golden_fandom_urls
    assert totals["discovered"] == edges.url.isin(trace.url).sum() > 0
    by_wave = {m["lineage"]["wave"]: m["lineage"]["discovered"]
               for m in state.frontier.history() if "pages_in" in m["lineage"]}
    assert by_wave == trace.groupby("wave").url.apply(
        lambda us: int(edges.url.isin(us).sum())).to_dict()

    # wave 0 = the 7 faction seeds; creatures appear only later
    w0 = trace[trace.wave == 0]
    assert len(w0) == 7
    assert all("_(H7)" in u for u in w0.url)

    # budget: wiki crawl_delay=1.0 -> 10/wave; 28 creatures -> waves 1-3
    delays = dict(zip(corpus.robots.host, corpus.robots.crawl_delay))
    budget = max(1, math.floor(WAVE_PERIOD / delays["wiki.example.test"]))
    later = trace[trace.wave > 0]
    assert later.groupby("wave").size().max() <= budget
    assert set(later.url) == set(corpus.golden_fandom_urls.discovered_url)

    # all creature records extracted across waves
    rec = state.records.read(spark).toPandas()
    assert len(rec) == len(corpus.golden_fandom)


def test_news_multihost_budgets(spark, corpus, tables, tmp_path, monkeypatch):
    from swspark import driver

    callers = []
    real = driver.robots_filter_distributed

    def counting(*args, **kwargs):
        callers.append(sys._getframe(1).f_code.co_name)
        return real(*args, **kwargs)

    monkeypatch.setattr(driver, "robots_filter_distributed", counting)
    cfg, totals = run_crawl(
        spark, tables, "news_sitemaps", tmp_path / "w3", "fulltext"
    )
    # the news pages discover nothing: no wave runs the discovery
    # stage's robots match, only the seeding does
    assert totals["discovered"] == 0 and totals["waves"] >= 1, totals
    assert callers == ["open_crawl"], callers
    state = CrawlState(str(tmp_path / "w3"))
    trace = crawl_trace(spark, state).toPandas()
    delays = dict(zip(corpus.robots.host, corpus.robots.crawl_delay))
    news_urls = {
        h: [u for u in corpus.pages.url if h in u]
        for h in delays
        if h.startswith("news")
    }
    exp = expected_trace(news_urls, delays)
    got = trace.sort_values(["wave", "host", "url"]).reset_index(drop=True)
    exp = exp.sort_values(["wave", "host", "url"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["wave", "host", "url", "rank"]].astype({"wave": int, "rank": int}),
        exp.astype({"wave": int, "rank": int}),
    )


def test_resume_equals_uninterrupted(spark, corpus, tables, tmp_path):
    """Kill after wave 2, resume -> identical records and seen (the
    wave log, so the crawl-order trace too)."""
    _, t_full = run_crawl(
        spark, tables, "wiki_pages", tmp_path / "full", "fandom"
    )
    cfg = CrawlConfig(spec="fandom", wave_period=WAVE_PERIOD, max_waves=2)
    crawl(
        spark, cfg, str(tmp_path / "part"),
        scenario_seeds(tables, "wiki_pages"), tables["sitemaps"],
        tables["robots"], tables["pages"],
    )
    cfg2 = CrawlConfig(spec="fandom", wave_period=WAVE_PERIOD)
    crawl(
        spark, cfg2, str(tmp_path / "part"),
        scenario_seeds(tables, "wiki_pages"), tables["sitemaps"],
        tables["robots"], tables["pages"], resume=True,
    )
    sf = CrawlState(str(tmp_path / "full"))
    sp = CrawlState(str(tmp_path / "part"))
    for name, key in (
        ("seen", ["url_canon"]),
        ("records", ["url", "creature"]),
    ):
        a = getattr(sf, name).read(spark).toPandas().sort_values(key).reset_index(drop=True)
        b = getattr(sp, name).read(spark).toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b[a.columns.tolist()])


def test_compaction_invariant_and_resume_across_boundary(
    spark, corpus, tables, tmp_path
):
    """Compaction is pure maintenance: with compact_every_waves=2 the
    seen (the wave log) must be byte-identical to the default-cadence
    run, and a kill-after-wave-3 resume (which reconstructs the
    frontier from bucketed base + op-log deltas ACROSS a compaction
    boundary) must replay to the same state."""
    _, _ = run_crawl(
        spark, tables, "dict_sitemap", tmp_path / "cfull", "urbandict",
        accept=accept_term,
    )
    cfg_k = CrawlConfig(spec="urbandict", wave_period=WAVE_PERIOD,
                        compact_every_waves=2)
    crawl(
        spark, cfg_k, str(tmp_path / "ck"),
        scenario_seeds(tables, "dict_sitemap"), tables["sitemaps"],
        tables["robots"], tables["pages"], accept=accept_term,
    )
    cfg_part = CrawlConfig(spec="urbandict", wave_period=WAVE_PERIOD,
                           compact_every_waves=2, max_waves=3)
    crawl(
        spark, cfg_part, str(tmp_path / "cpart"),
        scenario_seeds(tables, "dict_sitemap"), tables["sitemaps"],
        tables["robots"], tables["pages"], accept=accept_term,
    )
    crawl(
        spark, cfg_k, str(tmp_path / "cpart"),
        scenario_seeds(tables, "dict_sitemap"), tables["sitemaps"],
        tables["robots"], tables["pages"], accept=accept_term, resume=True,
    )
    sf = CrawlState(str(tmp_path / "cfull"))
    key = ["url_canon", "wave"]
    a = sf.seen.read(spark).toPandas().sort_values(key).reset_index(drop=True)
    for other in ("ck", "cpart"):
        so = CrawlState(str(tmp_path / other))
        b = so.seen.read(spark).toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b[a.columns.tolist()], obj=f"{other}.seen")
    # the compacting run really did compact: current seen snapshot is
    # a bucketed base (+ maybe deltas), not a pure append chain
    assert CrawlState(str(tmp_path / "ck")).seen.base_version() is not None


def test_resume_mid_wave_crash_reconciles(spark, corpus, tables, tmp_path):
    """A crash BETWEEN a wave's table commits and the frontier pointer
    commit must not double-append on resume: reconciliation rolls
    records/seen/... back to the frontier's wave, then replays."""
    _, t_full = run_crawl(
        spark, tables, "wiki_pages", tmp_path / "full2", "fandom"
    )
    cfg = CrawlConfig(spec="fandom", wave_period=WAVE_PERIOD, max_waves=2)
    crawl(
        spark, cfg, str(tmp_path / "part2"),
        scenario_seeds(tables, "wiki_pages"), tables["sitemaps"],
        tables["robots"], tables["pages"],
    )
    state = CrawlState(str(tmp_path / "part2"))
    next_wave = state.frontier.manifest()["lineage"]["next_wave"]

    # simulate the torn wave: records/seen got their wave-N commits,
    # the frontier pointer did not
    rec_g = (
        state.records.read(spark).limit(1)
        .withColumn("url", F.lit("CRASH"))
        .withColumn("wave", F.lit(next_wave))
    )
    state.records.commit(rec_g, mode="append", lineage={"wave": next_wave})
    state.seen.commit(
        spark.createDataFrame(
            [(123456789, "CRASH", "CRASH", "CRASH", 1, next_wave)],
            "url_hash long, url_canon string, url string, host string, "
            "rank int, wave int",
        ),
        mode="append", lineage={"wave": next_wave},
    )

    cfg2 = CrawlConfig(spec="fandom", wave_period=WAVE_PERIOD)
    crawl(
        spark, cfg2, str(tmp_path / "part2"),
        scenario_seeds(tables, "wiki_pages"), tables["sitemaps"],
        tables["robots"], tables["pages"], resume=True,
    )
    sf = CrawlState(str(tmp_path / "full2"))
    sp = CrawlState(str(tmp_path / "part2"))
    for name, key in (
        ("seen", ["url_canon"]),
        ("records", ["url", "creature"]),
    ):
        a = getattr(sf, name).read(spark).toPandas().sort_values(key).reset_index(drop=True)
        b = getattr(sp, name).read(spark).toPandas().sort_values(key).reset_index(drop=True)
        assert not (b == "CRASH").any().any(), f"{name} kept torn-wave rows"
        pd.testing.assert_frame_equal(a, b[a.columns.tolist()])


def test_recrawl_aging(spark, corpus, tables, tmp_path):
    """recrawl_after_waves=2: a URL fetched in wave w is fetched again
    in wave w+2, indefinitely (here bounded by max_waves=5 -> waves
    0, 2, 4); idle waves in between schedule nothing."""
    seeds = spark.createDataFrame(
        [("https://news0.example.test/articles/000001", "PAGES", "x"),
         ("https://news0.example.test/articles/000002", "PAGES", "x")],
        "seed string, seed_kind string, scenario string",
    )
    cfg = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD,
                      recrawl_after_waves=2, max_waves=5)
    totals = crawl(
        spark, cfg, str(tmp_path / "w5"), seeds, tables["sitemaps"],
        tables["robots"], tables["pages"],
    )
    state = CrawlState(str(tmp_path / "w5"))
    trace = crawl_trace(spark, state).toPandas()
    assert sorted(trace.wave.unique().tolist()) == [0, 2, 4]
    per_url = trace.groupby("url").wave.apply(lambda s: sorted(s.tolist()))
    assert all(v == [0, 2, 4] for v in per_url), per_url.to_dict()
    assert totals["waves"] == 3  # idle waves are not fetch waves
    # never-refetched-too-early law: consecutive fetches >= ttl apart
    assert (trace.sort_values(["url", "wave"])
            .groupby("url").wave.diff().dropna() >= 2).all()


def test_recrawl_resurrects_raw_url(spark, corpus, tables, tmp_path):
    """A URL whose RAW form differs from its canonical form (explicit
    :443) must refetch on recrawl: resurrection goes through the raw
    url carried in the seen table, not url_canon — fetch joins the
    pages source on the exact string (regression: r2 resurrected
    url_canon, so non-canonical URLs fetched once then produced
    phantom download errors on every recrawl)."""
    raw = "https://news0.example.test:443/articles/weird"
    pages = tables["pages"].unionByName(
        spark.createDataFrame(
            [(raw, "<html><body>weird</body></html>")], "url string, body string"
        ).select(
            "url",
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
            F.col("body").cast("binary").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
        ).select(tables["pages"].columns),
    )
    seeds = spark.createDataFrame(
        [(raw, "PAGES", "x")], "seed string, seed_kind string, scenario string"
    )
    cfg = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD,
                      recrawl_after_waves=2, max_waves=3)
    crawl(spark, cfg, str(tmp_path / "w5raw"), seeds, tables["sitemaps"],
          tables["robots"], pages)
    state = CrawlState(str(tmp_path / "w5raw"))
    trace = crawl_trace(spark, state).toPandas()
    assert sorted(trace.wave.tolist()) == [0, 2]
    assert set(trace.url) == {raw}  # raw form both times
    errs = state.errors.read(spark).where(F.col("stage") == "download")
    assert errs.count() == 0, errs.toPandas()


def test_error_backoff_halves_budget(spark, corpus, tables, tmp_path):
    """A host with download errors in the backoff window gets half the
    budget next wave: 4 missing URLs (sort first) fill wave 0 with
    errors -> wave 1 runs at budget 2 -> wave 2 (no errors in the
    1-wave window) back to 4."""
    from swspark.scheduler import Throttle

    host = "news0.example.test"
    # ',' < '0' so the missing URLs sort (and schedule) first
    missing = [f"https://{host}/articles/,{i}" for i in range(4)]
    existing = sorted(
        r.url for r in tables["pages"].select("url").collect()
        if host in r.url and "/articles/" in r.url
    )[:6]
    assert len(existing) == 6
    seeds = spark.createDataFrame(
        [(u, "PAGES", "x") for u in missing + existing],
        "seed string, seed_kind string, scenario string",
    )
    cfg = CrawlConfig(
        spec="fulltext", wave_period=WAVE_PERIOD,
        throttle=Throttle("PER_SECOND", 0.4),  # explicit budget 4/wave
        error_backoff_window=1,
    )
    crawl(
        spark, cfg, str(tmp_path / "w6"), seeds, tables["sitemaps"],
        tables["robots"], tables["pages"],
    )
    state = CrawlState(str(tmp_path / "w6"))
    trace = crawl_trace(spark, state).toPandas()
    sizes = trace.groupby("wave").size().to_dict()
    assert sizes == {0: 4, 1: 2, 2: 4}, sizes
    errs = state.errors.read(spark).toPandas()
    assert sorted(errs[errs.stage == "download"].url) == sorted(missing)


def test_robots_disallow_enforced(spark, corpus, tables, tmp_path):
    """A frontier URL under a Disallow prefix must never be scheduled."""
    seeds = spark.createDataFrame(
        [("https://news0.example.test/private/secret", "PAGES", "x"),
         ("https://news0.example.test/articles/000001", "PAGES", "x")],
        "seed string, seed_kind string, scenario string",
    )
    cfg = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD)
    crawl(
        spark, cfg, str(tmp_path / "w4"), seeds, tables["sitemaps"],
        tables["robots"], tables["pages"],
    )
    state = CrawlState(str(tmp_path / "w4"))
    urls = [r.url for r in crawl_trace(spark, state).select("url").collect()]
    assert urls == ["https://news0.example.test/articles/000001"]


def test_idle_resurrection_committed_to_oplog(spark, corpus, tables, tmp_path):
    """ADVICE r4 (medium): resurrected URLs from a fully-throttled
    (idle, n_sched==0) wave must land in the frontier op log before
    next_wave advances past them — otherwise a later resume rebuilds a
    frontier silently missing them and read_wave never re-derives the
    expiry (it consults wave w-ttl exactly once)."""
    from swspark.driver import _reconstruct_frontier
    from swspark.scheduler import Throttle

    urls = ["https://news0.example.test/articles/000001",
            "https://news0.example.test/articles/000002"]
    seeds = spark.createDataFrame(
        [(u, "PAGES", "x") for u in urls],
        "seed string, seed_kind string, scenario string",
    )
    wh = str(tmp_path / "widle")
    # phase 1: fetch both at wave 0
    cfg1 = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD,
                       recrawl_after_waves=2, max_waves=1)
    crawl(spark, cfg1, wh, seeds, tables["sitemaps"], tables["robots"],
          tables["pages"])
    # phase 2: paused throttle (PER_SECOND 0.05 x period 10 -> budget 0):
    # wave 1 idle, wave 2 resurrects both URLs but schedules nothing
    cfg2 = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD,
                       recrawl_after_waves=2, max_waves=3,
                       throttle=Throttle("PER_SECOND", 0.05))
    crawl(spark, cfg2, wh, seeds, tables["sitemaps"], tables["robots"],
          tables["pages"], resume=True)
    state = CrawlState(wh)
    # the idle resurrection wave was committed: pointer advanced AND
    # the op log reconstructs the resurrected frontier
    assert state.frontier.manifest()["lineage"]["next_wave"] == 3
    recon = _reconstruct_frontier(spark, state.frontier)
    assert sorted(r.url for r in recon.collect()) == sorted(urls)
    # phase 3: resume with a live throttle -> both refetch at wave 3
    cfg3 = CrawlConfig(spec="fulltext", wave_period=WAVE_PERIOD,
                       recrawl_after_waves=2, max_waves=4)
    crawl(spark, cfg3, wh, seeds, tables["sitemaps"], tables["robots"],
          tables["pages"], resume=True)
    trace = crawl_trace(spark, state).toPandas()
    per_url = trace.groupby("url").wave.apply(lambda s: sorted(s.tolist()))
    assert all(v == [0, 3] for v in per_url), per_url.to_dict()


def test_frontier_plan_bounded_across_waves(
    spark, corpus, tables, tmp_path, monkeypatch
):
    """Every wave schedules from the committed base ⊳ op log, so the
    frontier's analyzed plan does not grow with the wave index: 35
    wiki URLs at 4 per wave run 9 fetch waves across the default
    wave-7 compaction, and no wave's plan outgrows wave 1's (wave 0
    is a bare base scan).

    The discovery seen check runs no Python: every discovering wave's
    ``filter_new_urls`` plan holds exactly the Python eval nodes of its
    candidates (the robots match), none over the seen scans."""
    from swspark import driver
    from swspark.scheduler import Throttle

    sizes = []
    real = driver.schedule_wave

    def spy(frontier, *args, **kwargs):
        tree = frontier._jdf.queryExecution().analyzed().treeString()
        sizes.append(len(tree.splitlines()))
        return real(frontier, *args, **kwargs)

    def python_evals(df):
        def walk(plan):
            if plan.nodeName() == "AdaptiveSparkPlan":
                plan = plan.executedPlan()
            yield plan.nodeName()
            kids = plan.children()
            for i in range(kids.size()):
                yield from walk(kids.apply(i))

        plan = df._jdf.queryExecution().executedPlan()
        return sorted(n for n in walk(plan) if n in ("ArrowEvalPython", "BatchEvalPython"))

    evals = []
    real_filter = driver.filter_new_urls

    def filter_spy(spark, candidates, *args, **kwargs):
        out = real_filter(spark, candidates, *args, **kwargs)
        evals.append((python_evals(candidates), python_evals(out)))
        return out

    monkeypatch.setattr(driver, "schedule_wave", spy)
    monkeypatch.setattr(driver, "filter_new_urls", filter_spy)
    _, totals = run_crawl(
        spark, tables, "wiki_pages", tmp_path / "wbound", "fandom",
        throttle=Throttle("PER_SECOND", 0.4),
    )
    assert totals["waves"] >= 9, totals
    assert max(sizes[1:]) <= sizes[1], sizes
    # the seen check runs once per wave that discovered something: a
    # wave whose schedule holds a page with golden sendUrl edges
    trace = crawl_trace(spark, CrawlState(str(tmp_path / "wbound"))).toPandas()
    linking = trace[trace.url.isin(corpus.golden_fandom_urls.url)]
    assert len(evals) == linking.wave.nunique() > 0
    for cand, out in evals:
        assert out == cand, evals


def _cached_plans(spark):
    data = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(data.apply(i).plan().toString() for i in range(data.size()))


def test_failing_crawl_releases_its_caches(spark, corpus, tables, tmp_path):
    """A crawl that raises mid-wave (on_dl_error='fail' meets the dict
    corpus's 404s) leaves the session's cache as it found it: the robots
    rules table and the wave's caches are released, a caller's own
    cache is kept."""
    assert corpus.missing_urls
    callers = spark.range(3).persist()
    try:
        before = _cached_plans(spark)
        with pytest.raises(RuntimeError, match="on_dl_error=fail"):
            run_crawl(
                spark, tables, "dict_sitemap", tmp_path / "wfail", "urbandict",
                accept=accept_term, on_dl_error="fail",
            )
        assert _cached_plans(spark) == before
    finally:
        callers.unpersist()


def test_scrap_fail_policy_ignores_download_errors(spark, corpus, tables, tmp_path):
    """on_scrap_error="fail" raises on scrape errors only: the dict
    corpus's 404 is a download error, skipped under the default
    on_dl_error="skip", so the crawl completes and logs it."""
    assert corpus.missing_urls
    run_crawl(
        spark, tables, "dict_sitemap", tmp_path / "wscrapfail", "urbandict",
        accept=accept_term, on_scrap_error="fail",
    )
    errs = CrawlState(str(tmp_path / "wscrapfail")).errors.read(spark).toPandas()
    assert sorted(errs[errs.stage == "download"].url) == sorted(corpus.missing_urls)
    assert not (errs.stage == "scrape").any()


ERRORS_DDL = "wave int, url string, stage string, error string"


def test_budgets_stage_counts_recent_error_waves(spark, tmp_path):
    """The budgets stage alone, over a committed errors table: a host's
    backoff_k is its number of download-error waves inside the window;
    scrape errors and older waves do not count, and a host with errors
    but no robots row still backs off."""
    from swspark.driver import CrawlRun, wave_budgets

    state = CrawlState(str(tmp_path))
    errors = {
        0: [("https://a.test/0", "download")],  # before the window
        1: [("https://a.test/1", "download")],
        2: [("https://a.test/2", "download"), ("https://a.test/3", "download"),
            ("https://b.test/1", "scrape"), ("https://c.test/1", "download")],
    }
    for w, rows in errors.items():
        state.errors.commit(
            spark.createDataFrame([(w, u, st, "e") for u, st in rows], ERRORS_DDL),
            mode="append", lineage={"wave": w},
        )
    rules = spark.createDataFrame(
        [("a.test", 1.0), ("b.test", 2.0)], "host string, crawl_delay double"
    )
    run = CrawlRun(spark, CrawlConfig(error_backoff_window=2), state, rules, wave=3)
    got = {r.host: (r.crawl_delay, r.backoff_k) for r in wave_budgets(run).collect()}
    assert got == {"a.test": (1.0, 2), "b.test": (2.0, None), "c.test": (None, 1)}
    # no backoff window: the robots delays alone
    run = CrawlRun(spark, CrawlConfig(), state, rules, wave=3)
    assert wave_budgets(run).columns == ["host", "crawl_delay"]


def test_frontier_stage_resurrects_at_ttl(spark, tmp_path):
    """The frontier stage alone: from wave ttl on, the URLs seen at
    wave - ttl rejoin the committed frontier in their raw form, with
    discovered_wave = wave and last_fetch_ts = (wave - ttl) * period."""
    from swspark.driver import CrawlRun, _frontier_rows, wave_frontier
    from swspark.seen import with_url_identity

    state = CrawlState(str(tmp_path))
    cfg = CrawlConfig(wave_period=10.0, recrawl_after_waves=2)
    rules = spark.createDataFrame([], "host string, crawl_delay double")
    run = CrawlRun(spark, cfg, state, rules)
    pending = spark.createDataFrame([("https://a.test/p",)], "url string")
    state.frontier.commit(
        _frontier_rows(pending, 0), mode="overwrite", bucket=run.key_bucket,
        lineage={"next_wave": 0, "compacted_through": -1},
    )
    for w, url in ((0, "https://a.test/x"), (1, "https://A.TEST/y#top")):
        seen = with_url_identity(spark.createDataFrame([(url,)], "url string"))
        state.seen.commit(
            seen.select("url_hash", "url_canon", "url", F.lit(w).alias("wave")),
            mode="append", lineage={"wave": w},
        )

    run.wave = 1  # before ttl: the committed frontier alone
    frontier, resurrected = wave_frontier(run)
    assert resurrected is None
    assert [r.url for r in frontier.collect()] == ["https://a.test/p"]

    run.wave = 3  # wave 1's fetch expires
    frontier, resurrected = wave_frontier(run)
    got = resurrected.select(
        "url", "discovered_wave", F.col("last_fetch_ts").cast("double").alias("ts")
    ).collect()
    assert [tuple(r) for r in got] == [("https://A.TEST/y#top", 3, 10.0)]
    assert sorted(r.url for r in frontier.collect()) == [
        "https://A.TEST/y#top", "https://a.test/p",
    ]


def test_frontier_rows_keep_least_raw_form(spark):
    """One frontier row per canonical URL, and the raw form it keeps is
    the least, whatever the input order: the fetch joins pages on the
    raw string, so the pick decides between a fetch and a 404."""
    from swspark.driver import _frontier_rows

    forms = ["https://example.test/a", "https://Example.test/a"]
    for urls in (forms, forms[::-1]):
        df = spark.createDataFrame([(u,) for u in urls], "url string").coalesce(1)
        got = [(r.url, r.host) for r in _frontier_rows(df, 0).collect()]
        assert got == [("https://Example.test/a", "example.test")], urls
