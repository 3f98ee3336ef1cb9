"""URL-seen set: exact anti-joins against a bucketed seen table.

The reference has **no** seen structure — sws happily fetches a URL
twice if two sitemaps or sendUrl repeat it (verified absence in
crates/sws-crawler/; SURVEY.md §2 Part B). The north rule introduces
one for 10^10-URL scale:

- exact truth: a ``seen(url_hash, url_canon, url, host, rank, wave)``
  table, compacted every K waves into a base hash-bucketed on the join
  keys (storage-partitioned, so the anti-join never shuffles the big
  side). It is the crawl's one wave log: each wave appends its
  schedule, so ``(wave, host, url, rank)`` is the crawl-order trace;
- no deletion path: the seen table is append-only; re-crawl resurrects
  the rows a past wave committed (read back per wave through
  ``SnapshotTable.read_wave_range``) without removing them from the set.

There is no probabilistic prefilter: a Bloom filter in front of the
anti-join was measured and removed (README, BENCH.md). Every
candidate takes the JVM-only joins, so the seen check runs no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swspark import urlnorm


def with_url_identity(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach canonical url_hash + bucket-ready identity columns."""
    canon = urlnorm.canonicalize(F.col(url_col))
    return df.withColumn("url_canon", canon).withColumn(
        "url_hash", F.xxhash64(F.col("url_canon"))
    )


def filter_new_urls(
    spark: SparkSession,
    candidates: DataFrame,
    seen: "DataFrame | list[DataFrame]",
    blooms: None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Return candidates not in the seen set: exact ``left_anti`` joins
    on url_hash+url_canon (hash-first keeps the join key narrow; the url
    equality guards against xxhash64 collisions at 10^10 scale).

    ``seen`` may be a list of parts from SnapshotTable.read_split:
    part 0 is the bucketed compacted base — its anti-join is a
    sort-merge that shuffles ONLY the (wave-sized) candidate side, the
    10^10-row base streams from its bucket files — and later parts
    are recent per-wave deltas, joined broadcast.
    candidates must carry url_hash/url_canon (with_url_identity).

    ``blooms`` and ``n_buckets`` are ignored; they keep the five-argument
    call of the benchmark harness working, so ``blooms`` must be None.
    """
    if blooms is not None:
        raise TypeError("filter_new_urls has no Bloom prefilter; pass blooms=None")
    parts = seen if isinstance(seen, list) else [seen]
    new = candidates
    for i, part in enumerate(parts):
        rhs = part.select("url_hash", "url_canon")
        if i > 0:
            rhs = F.broadcast(rhs)  # delta parts are wave-sized
        new = new.join(rhs, ["url_hash", "url_canon"], "left_anti")
    # a USING join moves the keys first; keep the candidates' order
    return new.select(*candidates.columns)
