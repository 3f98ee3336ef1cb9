"""URL-seen set: partitioned Bloom filters over an exact seen table.

The reference has **no** seen structure — sws happily fetches a URL
twice if two sitemaps or sendUrl repeat it (verified absence in
crates/sws-crawler/; SURVEY.md §2 Part B). The north rule introduces
one for 10^10-URL scale:

- exact truth: a ``seen(url_hash, url, wave)`` table hash-bucketed by
  ``pmod(url_hash, n_buckets)`` (storage-partitioned so the exact
  anti-join never shuffles the big side);
- fast path: one Bloom filter per bucket (no false negatives ->
  a candidate that misses is **definitely new** and skips the join);
- no deletion path: the seen table and its filters are append-only;
  re-crawl resurrects the rows a past wave committed (read back per
  wave through ``SnapshotTable.read_wave_range``) without removing
  them from the set;
- only Bloom-positive candidates reach the exact ``left_anti`` join,
  so at steady state the join input is ~fpp x |candidates| + true dups.

The exact ``seen`` table is the only durable copy of the filters: a
Bloom filter of a union is the bitwise OR of its parts' filters, so
they are a pure function of ``seen``. The driver holds them in memory,
ORs each wave's committed hashes into them (``add_hashes``) and
rebuilds them from ``seen`` on resume (``build_filter_shards`` ->
``load_shards``). All per-row work is vectorized numpy inside Arrow
UDFs / applyInPandas — no per-row Python.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from swspark import urlnorm

# --- hashing ----------------------------------------------------------

_MASK64 = (1 << 64) - 1


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — derives independent hash streams from
    the 64-bit url_hash (public-domain algorithm)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def _hash_pair(url_hash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h = url_hash.astype(np.uint64)
    h1 = _splitmix64(h)
    h2 = _splitmix64(h ^ np.uint64(0xDEADBEEFCAFEF00D)) | np.uint64(1)
    return h1, h2


# --- Bloom filter -------------------------------------------------------


class BloomFilter:
    """Plain m-bit / k-hash Bloom filter with double hashing
    (h1 + i*h2), vectorized add/contains over numpy arrays."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m = int(m_bits)
        self.k = int(k)
        self.bits = (
            bits if bits is not None else np.zeros((self.m + 7) // 8, dtype=np.uint8)
        )

    @classmethod
    def sized_for(cls, n: int, fpp: float = 0.01) -> "BloomFilter":
        n = max(n, 1)
        m = max(8, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(m, k)

    def _positions(self, url_hash: np.ndarray) -> np.ndarray:
        h1, h2 = _hash_pair(url_hash)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def add_many(self, url_hash: np.ndarray) -> None:
        if len(url_hash) == 0:
            return
        pos = self._positions(np.asarray(url_hash)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, url_hash: np.ndarray) -> np.ndarray:
        if len(url_hash) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(url_hash))
        got = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return got.all(axis=0)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m: int, k: int, data: bytes) -> "BloomFilter":
        return cls(m, k, np.frombuffer(data, dtype=np.uint8).copy())

    def merge(self, other: "BloomFilter") -> None:
        assert self.m == other.m and self.k == other.k
        np.bitwise_or(self.bits, other.bits, out=self.bits)


# --- distributed seen-set ---------------------------------------------------

SHARD_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_items", LongType()),
        StructField("m_bits", LongType()),
        StructField("k", IntegerType()),
        StructField("bloom", BinaryType()),
    ]
)


def with_url_identity(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach canonical url_hash + bucket-ready identity columns."""
    canon = urlnorm.canonicalize(F.col(url_col))
    return df.withColumn("url_canon", canon).withColumn(
        "url_hash", F.xxhash64(F.col("url_canon"))
    )


def bucket_of(url_hash: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(url_hash, F.lit(n_buckets)).cast("int")


def build_filter_shards(
    seen: DataFrame, n_buckets: int, fpp: float = 0.01,
    fixed_bits: int | None = None, fixed_k: int | None = None,
) -> DataFrame:
    """Build per-bucket Bloom shards from the exact seen table.

    With ``fixed_bits``/``fixed_k`` the Bloom geometry is pinned so
    the shards are OR-mergeable with the driver's per-wave
    ``add_hashes`` updates (the crawl's resume path); otherwise each
    shard is sized for its own cardinality.

    seen must have column ``url_hash``. One groupBy(bucket) shuffle,
    then a single pass per group — O(|seen|/n_buckets) memory each.
    """
    sized = seen.select(
        "url_hash", bucket_of(F.col("url_hash"), n_buckets).alias("bucket")
    )

    def _build(key, pdf):
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        if fixed_bits is not None:
            bf = BloomFilter(fixed_bits, fixed_k or 7)
        else:
            bf = BloomFilter.sized_for(len(h), fpp)
        bf.add_many(h)
        return pd.DataFrame(
            {
                "bucket": [key[0]],
                "n_items": [len(h)],
                "m_bits": [bf.m],
                "k": [bf.k],
                "bloom": [bf.to_bytes()],
            }
        )

    return sized.groupBy("bucket").applyInPandas(_build, SHARD_SCHEMA)


def load_shards(shards_df: DataFrame) -> dict[int, BloomFilter]:
    """Collect shard rows into a {bucket: BloomFilter} dict, OR-merging
    rows of the same bucket (shards with identical geometry). Total
    size ~ 1.2 bytes/URL at fpp=0.01."""
    out: dict[int, BloomFilter] = {}
    for r in shards_df.collect():
        bf = BloomFilter.from_bytes(r.m_bits, r.k, bytes(r.bloom))
        prev = out.get(r.bucket)
        if prev is None:
            out[r.bucket] = bf
        elif prev.m == bf.m and prev.k == bf.k:
            prev.merge(bf)
        else:
            raise ValueError(
                f"bloom shard geometry mismatch in bucket {r.bucket}: "
                f"({prev.m},{prev.k}) vs ({bf.m},{bf.k})"
            )
    return out


def bloom_geometry(
    expected_urls: int, n_buckets: int, fpp: float = 0.01
) -> tuple[int, int]:
    """Derive (bits_per_bucket, k) from the EXPECTED total URL count —
    the 10^10-scale knob. A fixed 2^20-bit default holds ~10^6 URLs
    per bucket at fpp 0.01 and silently saturates (FPR -> 1) beyond
    that; sizing from cardinality keeps the discovery fast path
    meaningful at any scale. Bits are rounded up to a power of two so
    every bucket's filter shares one OR-mergeable geometry."""
    n = max(1, expected_urls // max(1, n_buckets))
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m_bits = 1 << max(13, (m - 1).bit_length())
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, min(k, 16)


def add_hashes(
    blooms: dict[int, BloomFilter], url_hash: np.ndarray, n_buckets: int,
    m_bits: int, k: int,
) -> None:
    """OR ``url_hash`` into the per-bucket filters in place, creating a
    bucket's ``(m_bits, k)`` filter on its first hash. Buckets agree
    with ``bucket_of``: ``np.mod`` by a positive modulus is ``pmod``."""
    buckets = np.mod(url_hash, n_buckets)
    for b in np.unique(buckets):
        bf = blooms.get(int(b))
        if bf is None:
            bf = blooms[int(b)] = BloomFilter(m_bits, k)
        bf.add_many(url_hash[buckets == b])


def make_maybe_seen_udf(
    spark: SparkSession, blooms: dict[int, BloomFilter], n_buckets: int
):
    """Vectorized 'maybe seen' probe over the broadcast shard bitmaps.
    Each batch wraps the broadcast bytes read-only (``contains_many``
    only reads), so probing copies no bitmap."""
    bc = spark.sparkContext.broadcast(
        {b: (f.m, f.k, f.to_bytes()) for b, f in blooms.items()}
    )

    @F.pandas_udf("boolean")
    def maybe_seen(url_hash: pd.Series) -> pd.Series:
        shards = bc.value
        h = url_hash.to_numpy(dtype=np.int64)
        buckets = np.mod(h, n_buckets)
        out = np.zeros(len(h), dtype=bool)
        for b in np.unique(buckets):
            ent = shards.get(int(b))
            if ent is None:
                continue
            m, k, data = ent
            bf = BloomFilter(m, k, np.frombuffer(data, dtype=np.uint8))
            mask = buckets == b
            out[mask] = bf.contains_many(h[mask])
        return pd.Series(out)

    return maybe_seen


def filter_new_urls(
    spark: SparkSession,
    candidates: DataFrame,
    seen: "DataFrame | list[DataFrame]",
    blooms: dict[int, BloomFilter] | None,
    n_buckets: int,
) -> DataFrame:
    """Return candidates not in the seen set.

    Fast path: Bloom 'definitely new' rows skip the join entirely
    (the bitmaps ship to the executors as one broadcast).
    Slow path: Bloom-positive rows take exact ``left_anti`` joins on
    url_hash+url_canon (hash-first keeps the join key narrow; the url
    equality guards against xxhash64 collisions at 10^10 scale).

    ``seen`` may be a list of parts from SnapshotTable.read_split:
    part 0 is the bucketed compacted base — its anti-join is a
    sort-merge that shuffles ONLY the (wave-sized) suspect side, the
    10^10-row base streams from its bucket files — and later parts
    are recent per-wave deltas, joined broadcast.
    candidates must carry url_hash/url_canon (with_url_identity).
    """
    if blooms:
        maybe_seen = make_maybe_seen_udf(spark, blooms, n_buckets)
        flagged = candidates.withColumn("_maybe", maybe_seen(F.col("url_hash")))
        definitely_new = flagged.where(~F.col("_maybe")).drop("_maybe")
        suspects = flagged.where(F.col("_maybe")).drop("_maybe")
    else:
        definitely_new = candidates.limit(0)
        suspects = candidates
    parts = seen if isinstance(seen, list) else [seen]
    confirmed_new = suspects
    for i, part in enumerate(parts):
        rhs = part.select("url_hash", "url_canon")
        if i > 0:
            rhs = F.broadcast(rhs)  # delta parts are wave-sized
        confirmed_new = confirmed_new.join(
            rhs, ["url_hash", "url_canon"], "left_anti"
        )
    return definitely_new.unionByName(confirmed_new)
