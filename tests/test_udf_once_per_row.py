"""Each Arrow UDF of a crawl runs once per row: a fetched page is
scraped once in its wave, and a sitemap <loc> is passed to a plain
Python acceptUrl once, inside the sitemap parse.

The spec counts its own calls: it is loaded from a file through
``load_spec_file`` (so executors get it by value) and appends one line
per call to a per-process file under the test's tmp dir."""

import collections
import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import crawl_trace
from swspark.driver import CrawlConfig, CrawlState, crawl
from swspark.extract.specs import load_spec_file
from swspark.fixtures import DICT_HOST, generate_corpus
from swspark.sitemaps import parse_sitemap_bytes

COUNTING_SPEC = '''\
import os
from dataclasses import replace

from swspark.extract.specs import SPECS

LOG_DIR = {log_dir!r}
BASE = SPECS[{base!r}]


def _log(kind, line):
    with open(os.path.join(LOG_DIR, f"{{kind}}-{{os.getpid()}}"), "a") as fh:
        fh.write(line + "\\n")


def accept_url(url, kind):
    if isinstance(url, str):  # not the driver's Column probe
        _log("accept", f"{{kind}} {{url}}")
    return BASE.accept_url(url, kind)


def scrap_page(page, url):
    _log("scrap", url)
    return BASE.scrap_page(page, url)


SPEC = replace(BASE, name="counting", accept_url=accept_url,
               scrap_page=scrap_page)
'''


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


def _calls(log_dir, kind):
    out = collections.Counter()
    for path in glob.glob(os.path.join(log_dir, f"{kind}-*")):
        with open(path) as fh:
            out.update(fh.read().splitlines())
    return out


@pytest.mark.parametrize("scenario,base", [
    ("dict_sitemap", "urbandict"),  # sitemap index -> urlsets, acceptUrl
    ("wiki_pages", "fandom"),  # page seeds, sendUrl discoveries
])
def test_each_page_scraped_and_each_loc_accepted_once(
    spark, corpus, tables, tmp_path, scenario, base
):
    log_dir = tmp_path / "calls"
    log_dir.mkdir()
    spec_path = tmp_path / "counting_spec.py"
    spec_path.write_text(COUNTING_SPEC.format(log_dir=str(log_dir), base=base))
    spec = load_spec_file(str(spec_path))

    wh = str(tmp_path / "wh")
    totals = crawl(
        spark, CrawlConfig(spec=spec, wave_period=10.0), wh,
        tables["seeds"].where(F.col("scenario") == scenario),
        tables["sitemaps"], tables["robots"], tables["pages"],
    )
    state = CrawlState(wh)
    assert totals["waves"] >= 2, totals

    trace = crawl_trace(spark, state).toPandas()
    fetched = set(trace.url) - set(corpus.missing_urls)
    scraped = _calls(log_dir, "scrap")
    assert set(scraped) == fetched
    assert max(scraped.values()) == 1, scraped.most_common(3)

    # every <loc> occurrence of every sitemap the crawl walked, under
    # its sitemap's kind: duplicate entries are accepted once each
    locs = collections.Counter()
    if scenario == "dict_sitemap":
        for body in corpus.sitemaps[
            corpus.sitemaps.sitemap_url.str.startswith(f"https://{DICT_HOST}/")
        ].body:
            kind, urls = parse_sitemap_bytes(bytes(body))
            locs.update(f"{kind} {u}" for u in urls)
        assert len(locs) > 40
    else:
        # wave 0's discoveries are what the later waves fetch: the
        # pages with golden sendUrl edges are all fetched in wave 0
        edges = corpus.golden_fandom_urls
        linking = trace[trace.url.isin(edges.url)]
        assert len(linking) and set(linking.wave) == {0}
        assert totals["discovered"] == len(edges[edges.url.isin(linking.url)])
        assert set(edges.discovered_url) <= set(trace[trace.wave >= 1].url)
    assert _calls(log_dir, "accept") == locs
