"""Pin the r6 corpus file layout: large pages tables are written as a
multi-file parquet directory (splittable, one file per core) and read
back identically by both pandas and Spark; small tables stay
single-file."""

from __future__ import annotations

import os

import pandas as pd

from swspark.fixtures import Corpus, write_corpus


def _corpus(n_pages: int) -> Corpus:
    pages = pd.DataFrame(
        {
            "url": [f"https://h.test/p/{i}" for i in range(n_pages)],
            "warc_ts": ["20240101000000"] * n_pages,
            "html": [b"<p>x</p>"] * n_pages,
            "text": ["x"] * n_pages,
            "lang": ["en"] * n_pages,
        }
    )
    empty = pd.DataFrame({"url": pd.Series([], dtype=str)})
    return Corpus(
        pages=pages, sitemaps=empty.copy(), robots=empty.copy(),
        seeds=empty.copy(), golden_urbandict=empty.copy(),
        golden_fandom=empty.copy(), golden_fandom_urls=empty.copy(),
    )


def test_large_pages_written_as_multifile_dir(tmp_path, spark):
    d = str(tmp_path / "big")
    write_corpus(_corpus(3000), d)
    p = os.path.join(d, "pages.parquet")
    assert os.path.isdir(p)
    parts = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(parts) > 8  # splittable: many part files
    # pandas and Spark read the directory identically
    via_pd = pd.read_parquet(p).sort_values("url").reset_index(drop=True)
    assert len(via_pd) == 3000
    sdf = spark.read.parquet(p)
    assert sdf.count() == 3000
    # the scan actually splits: under default split sizing the part
    # files pack into at least one split per core of the test session
    assert sdf.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_small_pages_stay_single_file(tmp_path):
    d = str(tmp_path / "small")
    write_corpus(_corpus(200), d)
    p = os.path.join(d, "pages.parquet")
    assert os.path.isfile(p)
    assert len(pd.read_parquet(p)) == 200


def test_rewrite_replaces_either_layout(tmp_path):
    """A corpus written over another one in the same directory replaces
    its pages table whatever layout each write used."""
    d = str(tmp_path / "reuse")
    p = os.path.join(d, "pages.parquet")
    write_corpus(_corpus(3000), d)
    assert os.path.isdir(p)
    write_corpus(_corpus(200), d)
    assert os.path.isfile(p)
    assert len(pd.read_parquet(p)) == 200
    write_corpus(_corpus(3000), d)
    assert os.path.isdir(p)
    assert len(pd.read_parquet(p)) == 3000
