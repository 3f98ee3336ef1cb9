"""CLI (sws-cli parity) and glob source tests."""

import glob
import os
import subprocess
import sys

import pandas as pd
import pytest

from swspark.fixtures import ensure_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    return ensure_corpus(str(d), "tiny")


def _read_csv_dir(path, columns):
    files = [f for f in glob.glob(os.path.join(path, "*.csv")) if os.path.getsize(f)]
    df = pd.concat(
        [pd.read_csv(f, header=None, dtype=str, keep_default_na=False) for f in files],
        ignore_index=True,
    )
    df.columns = columns
    return df


def test_cli_scrap_pages(corpus_dir, tmp_path):
    out = str(tmp_path / "rec")
    r = subprocess.run(
        [sys.executable, "-m", "swspark", "scrap",
         "--spec", "urbandict",
         "--pages", os.path.join(corpus_dir, "pages.parquet"),
         "--cpus", "4", "-o", out],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = _read_csv_dir(out, ["url", "word", "def_index", "date", "meaning",
                              "example"])
    exp = pd.read_parquet(os.path.join(corpus_dir, "golden_urbandict.parquet"))
    assert len(got) == len(exp)


def test_cli_scrap_glob_and_single_file(corpus_dir, tmp_path):
    # write fixture pages out as .html files, scrape via glob (A6)
    pages = pd.read_parquet(os.path.join(corpus_dir, "pages.parquet"))
    wiki = pages[pages.url.str.contains("wiki.example.test")].head(8)
    html_dir = tmp_path / "html"
    html_dir.mkdir()
    for i, row in enumerate(wiki.itertuples()):
        (html_dir / f"page{i}.html").write_bytes(bytes(row.html))
    out = str(tmp_path / "rec2")
    r = subprocess.run(
        [sys.executable, "-m", "swspark", "scrap",
         "--spec", "fulltext", "--glob", str(html_dir / "*.html"),
         "--cpus", "4", "-o", out],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = _read_csv_dir(out, ["url", "text"])
    assert len(got) == 8

    # single file (A7)
    out3 = str(tmp_path / "rec3")
    r = subprocess.run(
        [sys.executable, "-m", "swspark", "scrap",
         "--spec", "fulltext", "--file", str(html_dir / "page0.html"),
         "--cpus", "2", "-o", out3],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert len(_read_csv_dir(out3, ["url", "text"])) == 1


def test_cli_crawl_end_to_end(corpus_dir, tmp_path):
    out = str(tmp_path / "rec")
    wh = str(tmp_path / "wh")
    r = subprocess.run(
        [sys.executable, "-m", "swspark", "crawl",
         "--spec", "fandom", "--scenario", "wiki_pages",
         "--seeds", os.path.join(corpus_dir, "seeds.parquet"),
         "--sitemaps", os.path.join(corpus_dir, "sitemaps.parquet"),
         "--robots", os.path.join(corpus_dir, "robots.parquet"),
         "--pages", os.path.join(corpus_dir, "pages.parquet"),
         "--warehouse", wh, "--cpus", "4", "-o", out],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    cols = ["url", "faction", "creature", "tier", "upgraded", "size",
            "attack_type", "range", "dwelling", "cost_per_unit", "growth",
            "attack", "defense", "hit_points", "damage", "initiative",
            "speed", "morale", "destiny", "wave"]
    got = _read_csv_dir(out, cols)
    exp = pd.read_parquet(os.path.join(corpus_dir, "golden_fandom.parquet"))
    assert len(got) == len(exp)
    assert "crawl done" in r.stderr

