"""The entry-surface query builders leave the session's cache as they
found it: a query that persists an intermediate nobody unpersists
leaks it for the rest of the session."""

import numpy as np
import pandas as pd

import __spark_entry__ as entry


def _cached_plans(spark):
    data = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(data.apply(i).plan().toString() for i in range(data.size()))


def test_dedup_queries_leave_no_cache(spark, tmp_path):
    rng = np.random.default_rng(7)
    words = ["crawl", "wave", "frontier", "robots", "sitemap", "seen", "page"]
    pd.DataFrame({
        "doc_id": np.arange(12, dtype=np.int64),
        "text": [" ".join(rng.choice(words, 30)) for _ in range(12)],
        "lang": "en",
        "source": "s",
        "n_chars": np.int64(0),
    }).to_parquet(tmp_path / "documents.parquet")
    pd.DataFrame({
        "vec_id": np.arange(8, dtype=np.int64),
        "embedding": list(rng.standard_normal((8, 16)).astype(np.float32)),
        "label": np.int32(0),
    }).to_parquet(tmp_path / "embeddings.parquet")

    before = _cached_plans(spark)
    pairs = entry.q_simhash_pairs(spark, str(tmp_path)).collect()
    wide = entry.q_simhash_wide(spark, str(tmp_path)).collect()
    dups = entry.q_embedding_neardup(spark, str(tmp_path)).collect()
    assert _cached_plans(spark) == before

    # the planted twins, closed form (see the queries' docstrings)
    twins = sorted((i, i + 1000000, i % 3 + 1) for i in range(12))
    assert sorted(tuple(r) for r in pairs) == twins
    assert sorted(tuple(r) for r in wide) == twins
    assert sorted(tuple(r) for r in dups) == [(i, i + 1000000) for i in range(8)]
