"""Similarity search over an embeddings table
(vec_id, embedding array<float/double>, label).

- brute-force cosine top-k: the correctness baseline; dot products as
  JVM higher-order functions (zip_with + aggregate), one shuffle for
  the global top-k (orderBy + limit -> Spark's TakeOrdered).
- random-hyperplane LSH: the scale path — b sign-bits per vector form
  a bucket key; search probes only the query's bucket (plus
  multi-probe neighbors), turning O(n) scans into O(n / 2^b).
- IVF (inverted file): coarse quantizer from deterministic seeded
  centroids; probe the nprobe nearest lists.

Embedding near-duplicate pairs (cosine >= tau) reuse the LSH
bucketing as the blocking join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector. Fully built-in:
    the score projection is codegen'd; orderBy+limit compiles to
    TakeOrderedAndProject (no full sort, no full shuffle)."""
    q = F.lit(query).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    scored = vectors.select(
        F.col(id_col),
        F.round(cosine(v, q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# --- random-hyperplane LSH --------------------------------------------


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def hyperplane_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit i = 1 iff dot(vec, plane_i) > 0.
    Planes are baked into the plan as literals (they're tiny:
    bits x dim doubles)."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.lit([float(x) for x in p]).cast("array<double>")
        d = dot(vec, plane)
        bits.append(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_index(
    vectors: DataFrame,
    bits: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """Attach a hyperplane bucket column; at scale the result is
    written bucketed-by(bucket) so probes are partition-pruned scans."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bits, seed)
    v = F.col(vec_col).cast("array<double>")
    indexed = vectors.withColumn("bucket", hyperplane_bucket(v, planes))
    return indexed, planes


def _neighbor_buckets(bucket: int, bits: int, probes: int) -> list[int]:
    """Multi-probe: the bucket itself plus single-bit flips (probes
    bounds how many)."""
    out = [bucket]
    for i in range(min(bits, probes)):
        out.append(bucket ^ (1 << i))
    return out


def lsh_topk(
    indexed: DataFrame,
    planes: np.ndarray,
    query: list[float],
    k: int = 10,
    probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's bucket and
    its multi-probe neighbors."""
    qv = np.asarray(query, dtype=float)
    qbucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) > 0:
            qbucket |= 1 << i
    buckets = _neighbor_buckets(qbucket, len(planes), probes)
    q = F.lit([float(x) for x in query]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        indexed.where(F.col("bucket").isin(buckets))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def multiprobe_buckets(bucket: int, bits: int, depth: int = 1) -> list[int]:
    """Hamming ball around a bucket id: all <=depth-bit flips
    (classic multi-probe LSH; depth 2 is the usual sweet spot)."""
    out = {bucket}
    if depth >= 1:
        out |= {bucket ^ (1 << i) for i in range(bits)}
    if depth >= 2:
        out |= {
            bucket ^ (1 << i) ^ (1 << j)
            for i in range(bits)
            for j in range(i + 1, bits)
        }
    return sorted(out)


def multitable_lsh_index(
    vectors: DataFrame,
    bits: int = 8,
    n_tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[np.ndarray]]:
    """E2LSH-style multi-table index: L independent hyperplane tables,
    one bucket column each. Recall compounds across tables
    (1-(1-p)^L), which is what makes LSH usable when neighbors are not
    extremely close. At scale each table is its own bucketed posting
    layout (explode to (table, bucket, id) and bucketBy(bucket)) so a
    probe is a partition-pruned scan; single-box the per-table columns
    keep one row per vector and the probe is a disjunction filter."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes_list = [_hyperplanes(dim, bits, seed + t) for t in range(n_tables)]
    v = F.col(vec_col).cast("array<double>")
    df = vectors
    for t, planes in enumerate(planes_list):
        df = df.withColumn(f"bucket_{t}", hyperplane_bucket(v, planes))
    return df, planes_list


def multitable_lsh_topk(
    indexed: DataFrame,
    planes_list: list[np.ndarray],
    query: list[float],
    k: int = 10,
    depth: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over the union of all tables' multi-probe
    buckets; exact cosine rescoring of candidates only."""
    qv = np.asarray(query, dtype=float)
    cond = None
    for t, planes in enumerate(planes_list):
        qbucket = 0
        for i, p in enumerate(planes):
            if float(np.dot(qv, p)) > 0:
                qbucket |= 1 << i
        buckets = multiprobe_buckets(qbucket, len(planes), depth)
        c = F.col(f"bucket_{t}").isin(buckets)
        cond = c if cond is None else (cond | c)
    q = F.lit([float(x) for x in query]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        indexed.where(cond)
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """cosine >= threshold pairs with LSH-bucket blocking: equality
    join on bucket (plus each vector also posted to 1-bit-flip
    neighbor buckets to cover boundary pairs), then exact verify."""
    indexed, planes = lsh_index(vectors, bits=bits, seed=seed,
                                id_col=id_col, vec_col=vec_col)
    flips = F.array(
        F.lit(0), *[F.shiftleft(F.lit(1).cast("long"), i) for i in range(bits)]
    )
    posted = indexed.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(
            F.array_distinct(
                F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m))
            )
        ).alias("bucket"),
    )
    anchors = indexed.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket"
    )
    # Candidate generation and dedup run on (doc_a, doc_b) ID PAIRS
    # only — the blocking join and the multi-probe dedup never carry
    # the vectors (guide §8: decide on small rows, move payloads
    # once). Before r6 the join shipped both embeddings through the
    # dedup, which forced sort-based aggregation over array rows;
    # ids dedup as a hash aggregate of two longs, and the verify
    # joins re-attach each vector exactly once. va/vb are functions
    # of the ids, so any dedup representative is identical.
    cand = (
        anchors.select("id", "bucket").alias("a")
        .join(posted.select("id", "bucket").alias("b"), "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # one vector per id: a repeated id would re-join once per copy
    # and emit its (doc_a, doc_b) pair twice
    vecs = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).dropDuplicates(["id"])
    cand = (
        cand.join(vecs.withColumnsRenamed({"id": "doc_a", "v": "va"}),
                  "doc_a")
        .join(vecs.withColumnsRenamed({"id": "doc_b", "v": "vb"}), "doc_b")
    )
    va = F.col("va").cast("array<double>")
    vb = F.col("vb").cast("array<double>")
    return (
        cand.withColumn("cos_sim", F.round(cosine(va, vb), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )


# --- IVF ----------------------------------------------------------------


def _make_assign_udf(spark, centroids: np.ndarray):
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        c = bc.value
        m = np.array(emb.tolist(), dtype=float)
        m /= np.linalg.norm(m, axis=1, keepdims=True) + 1e-12
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return assign


def ivf_index(
    vectors: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """Coarse quantizer: deterministic seeded sample init, then
    ``iters`` distributed Lloyd iterations — assignment is a
    vectorized pandas UDF (numpy matmul per Arrow batch); the centroid
    update is a posexplode + groupBy(list, dim) mean, so only
    n_lists x dim aggregated values ever reach the driver. Empty
    clusters keep their previous centroid (deterministic)."""
    spark = vectors.sparkSession
    sample = (
        vectors.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(997)), F.col(id_col))
        .limit(n_lists)
        .collect()
    )
    centroids = np.array([list(r[0]) for r in sample], dtype=float)
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12

    for _ in range(iters):
        assign = _make_assign_udf(spark, centroids)
        norm = l2norm(F.col(vec_col).cast("array<double>"))
        unit = F.transform(
            F.col(vec_col).cast("array<double>"), lambda x: x / norm
        )
        assigned = vectors.select(
            assign(F.col(vec_col)).alias("list_id"), unit.alias("v")
        )
        # spherical k-means update: mean of unit vectors, renormalized
        means = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_c = centroids.copy()
        for r in means:
            new_c[r.list_id, r.pos] = r.m  # empty lists keep old centroid
        centroids = new_c / (np.linalg.norm(new_c, axis=1, keepdims=True) + 1e-12)

    assign = _make_assign_udf(spark, centroids)
    return vectors.withColumn("list_id", assign(F.col(vec_col))), centroids


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    qv = np.asarray(query, dtype=float)
    qn = qv / (np.linalg.norm(qv) + 1e-12)
    lists = np.argsort(-(centroids @ qn))[:nprobe].tolist()
    q = F.lit([float(x) for x in query]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        indexed.where(F.col("list_id").isin([int(x) for x in lists]))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
