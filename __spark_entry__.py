"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator inventory over the driver's
testdata tables (documents/embeddings/events as the web-corpus
stand-ins — FIXTURES.md §7) plus two committed fixture parquets
(data/fixture_pages.parquet, data/fixture_media.parquet) whose golden
columns were computed independently of the engine; oracle_sql() gives
the DuckDB twin for EVERY entry. Approximate search ops return their
recall contract vs the in-query brute-force baseline (lsh_topk,
ivf_topk); simhash_pairs plants twins at exact Hamming 1-3 by flipping
known sketch bits, so its recovered pair set + distances are closed
form.

Column aliases match between Spark and SQL exactly; float outputs are
rounded and scaled to integers where hashing stability matters.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WAVE_PERIOD = 10.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TABLE_KEYS = {"documents": "doc_id", "events": "user_id",
               "embeddings": "vec_id"}


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parallel read of a testdata table. The driver's parquet files
    are written as a SINGLE row group, so Spark cannot split the scan
    — every downstream per-row expression (regex normalization, md5,
    cosine folds, date_trunc) would run in ONE task regardless of
    core count. A hash repartition on the table's key right after the
    scan costs one exchange of a few MB and moves the per-row work
    onto all cores (optimization guide §2: partitioning that avoids
    idle capacity). Hash (not round-robin) deliberately: keyless
    repartition pays a local sort of its input on the single scan
    task (spark.sql.execution.sortBeforeRepartition, guide §2.5),
    which costs more than the exchange saves here; ids are unique, so
    the hash spreads evenly — and for events the user_id partitioning
    even satisfies the daily rollup's clustered distribution, so the
    groupBy reuses this exchange. Results are row-identical; only
    placement changes. This helper is entry-surface only: the
    testdata tables are small and single-group by construction —
    library operators must NOT blanket-repartition (at scale inputs
    arrive already split)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df.repartition(
        spark.sparkContext.defaultParallelism, F.col(_TABLE_KEYS[name])
    )


# --------------------------------------------------------------------
# crawl-shaped operators over the documents stand-in
# --------------------------------------------------------------------

_BUDGET_CASE_SQL = (
    "CASE WHEN length(source) % 3 = 0 THEN 20 "
    "WHEN length(source) % 3 = 1 THEN 10 ELSE 5 END"
)


def _budget_col():
    m = F.length("source") % 3
    return (
        F.when(m == 0, F.lit(20)).when(m == 1, F.lit(10)).otherwise(F.lit(5))
    ).cast("long")


def q_schedule_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-host window-rank wave selection under a
    politeness budget (swspark.scheduler semantics; sources ≙ hosts,
    n_chars ≙ priority)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).cast("long").alias("rank"),
        _budget_col().alias("budget"),
    )
    return ranked.where(F.col("rank") <= F.col("budget")).select(
        "source", "doc_id", "rank"
    )


SQL_SCHEDULE_WAVE = f"""
SELECT source, doc_id, rank FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rank,
         {_BUDGET_CASE_SQL} AS budget
  FROM documents
) WHERE rank <= budget
"""


def q_seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier vs seen-set dedup as a left_anti join (swspark.seen
    exact path; seen ≙ every third doc)."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    return docs.join(seen, "doc_id", "left_anti").select("doc_id", "source")


SQL_SEEN_ANTI_JOIN = """
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
"""


def q_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay -> per-host wave budget (swspark.scheduler
    .politeness_budget semantics: max(1, floor(period / delay)))."""
    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select("source").distinct()
    m = F.length("source") % 3
    delay = (
        F.when(m == 0, F.lit(0.5)).when(m == 1, F.lit(1.0)).otherwise(F.lit(2.0))
    )
    budget = F.greatest(F.lit(1), F.floor(F.lit(WAVE_PERIOD) / delay)).cast(
        "long"
    )
    return hosts.select(
        "source", delay.alias("crawl_delay"), budget.alias("budget")
    )


SQL_POLITENESS_BUDGET = """
SELECT source,
       CASE WHEN length(source) % 3 = 0 THEN 0.5
            WHEN length(source) % 3 = 1 THEN 1.0 ELSE 2.0 END AS crawl_delay,
       CAST(GREATEST(1, FLOOR(10.0 / CASE WHEN length(source) % 3 = 0 THEN 0.5
            WHEN length(source) % 3 = 1 THEN 1.0 ELSE 2.0 END)) AS BIGINT) AS budget
FROM (SELECT DISTINCT source FROM documents)
"""


def q_host_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host scheduling stats (groupBy + count/sum/avg).

    avg_chars_x100 is exact integer math (round-half-up of
    100*sum/count via (200*sum + count) DIV (2*count)) so the hash is
    representation-stable: no doubles anywhere, every column BIGINT on
    both engines (DuckDB SUM(BIGINT) is HUGEINT — cast explicitly)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.expr(
                "CAST((200 * total_chars + n_docs) DIV (2 * n_docs) AS BIGINT)"
            ).alias("avg_chars_x100"),
            "n_langs",
        )
    )


SQL_HOST_AGG = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST((200 * CAST(SUM(n_chars) AS BIGINT) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS avg_chars_x100,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time daily rollup per user (streaming-shaped agg run in
    batch; watermark-free because waves bound lateness)."""
    ev = _tp(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") * 100).cast("long").alias("value_x100"),
    )


SQL_EVENTS_DAILY = """
SELECT user_id, date_trunc('day', ts) AS day,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(value) * 100) AS BIGINT) AS value_x100
FROM events GROUP BY user_id, date_trunc('day', ts)
"""


# --------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


_SQL_PLANTED = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via normalized-content fingerprint
    (swspark.dedup.exact_duplicates; dup rows planted by self-union)."""
    from swspark.dedup import exact_duplicates

    base = _docs_with_planted_dups(spark, sf_dir)
    return exact_duplicates(base).select(
        "fingerprint", "keep_id", F.col("n").alias("n")
    )


SQL_EXACT_DEDUP = f"""
SELECT md5({_NORM_SQL}) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n
FROM ({_SQL_PLANTED})
GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard pairs (inverted-index join) on the
    doc_id<60 slice + planted near-identical copies."""
    from swspark.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).select(
        "doc_id", "text"
    )
    copies = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    base = docs.unionByName(copies)
    pairs = ngram_jaccard_pairs(base, threshold=0.9, n=5)
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 10000).cast("long").alias("jaccard_x1e4"),
    )


SQL_NGRAM_JACCARD = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS t FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {_NORM_SQL} AS t
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(length(t) - 4, 0)),
           i -> t[i:i+4])) AS grams
  FROM base
),
inv AS (SELECT doc_id, unnest(grams) AS g FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(grams) AS sz FROM sh)
SELECT doc_a, doc_b,
       CAST(ROUND(ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
            * 10000) AS BIGINT) AS jaccard_x1e4
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. Oracle = the exact ngram-Jaccard
    pair set at the same threshold: with k=64, bands=16 (rows=4) the
    per-pair miss probability at J>=0.9 is (1-0.9^4)^16 ~ 4e-8, and the
    exact-Jaccard verify step removes every false positive, so the LSH
    output equals the exact result on this corpus."""
    from swspark.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).select(
        "doc_id", "text"
    )
    copies = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return minhash_lsh_pairs(docs.unionByName(copies), threshold=0.9).select(
        "doc_a", "doc_b"
    )


SQL_MINHASH_LSH = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS t FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {_NORM_SQL} AS t
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(length(t) - 4, 0)),
           i -> t[i:i+4])) AS grams
  FROM base
),
inv AS (SELECT doc_id, unnest(grams) AS g FROM sh),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(grams) AS sz FROM sh)
SELECT doc_a, doc_b
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 pair mining, oracle-checked end to end
    (VERDICT r3 #2): each document's REAL sketch (simhash64_fast over
    its text) gets a planted twin at EXACT Hamming k = doc_id%3 + 1 by
    XORing k distinct bit positions ((7*doc_id + i) % 64, consecutive
    so always distinct for k<=3). Pigeonhole banding (4 bands x 16
    bits at max_hamming=3) guarantees every planted pair shares a
    band, and bit_count(sim_a ^ sim_b) returns exactly k — so the
    twin-pair slice of the full pair mine is the closed form
    (doc_id, doc_id+1e6, doc_id%3+1), which DuckDB states directly."""
    from swspark.dedup import simhash64_fast, simhash_pairs_from_sketches

    sims = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").alias("id"),
            simhash64_fast(F.col("text")).alias("sim"),
        )
    )
    twins = sims.select(
        (F.col("id") + 1000000).alias("id"),
        F.expr(
            "sim ^ aggregate(sequence(0, CAST(id % 3 AS INT)), "
            "CAST(0 AS BIGINT), (a, i) -> a ^ shiftleft(CAST(1 AS BIGINT), "
            "CAST((id * 7 + i) % 64 AS INT)))"
        ).alias("sim"),
    )
    pairs = simhash_pairs_from_sketches(
        sims.unionByName(twins), max_hamming=3
    )
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1000000).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


SQL_SIMHASH_PAIRS = """
SELECT CAST(doc_id AS BIGINT) AS doc_a,
       CAST(doc_id + 1000000 AS BIGINT) AS doc_b,
       CAST(doc_id % 3 + 1 AS INTEGER) AS hamming
FROM documents WHERE doc_id < 60
"""


def q_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash pair mining (the measured 10^6+ scale path —
    32-bit bands cut incidental collisions by 2^16; see
    dedup.simhash_pairs_wide), oracle-checked like simhash_pairs:
    twins flip k = doc_id%3 + 1 distinct positions of the 128-bit
    sketch ((11*doc_id + i) % 128 — word p//64, bit p%64), pigeonhole
    over 4x32-bit bands guarantees recovery, and the summed bit_count
    returns exactly k."""
    from swspark.dedup import char_shingles, make_simhash_udf
    from swspark.dedup import simhash_pairs_wide_from_sketches

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    sh = char_shingles(F.col("text"))
    udf = make_simhash_udf()
    sims = docs.select(
        F.col("doc_id").alias("id"),
        udf(F.transform(sh, lambda g: F.xxhash64(g))).alias("s0"),
        udf(F.transform(sh, lambda g: F.xxhash64(g, F.lit(1)))).alias("s1"),
    )

    def flips(word: int) -> str:
        # XOR of the flipped bits landing in this word
        return (
            f"aggregate(filter(sequence(0, CAST(id % 3 AS INT)), "
            f"i -> CAST((id * 11 + i) % 128 DIV 64 AS INT) = {word}), "
            "CAST(0 AS BIGINT), (a, i) -> a ^ shiftleft(CAST(1 AS BIGINT), "
            "CAST((id * 11 + i) % 64 AS INT)))"
        )

    twins = sims.select(
        (F.col("id") + 1000000).alias("id"),
        F.expr(f"s0 ^ {flips(0)}").alias("s0"),
        F.expr(f"s1 ^ {flips(1)}").alias("s1"),
    )
    pairs = simhash_pairs_wide_from_sketches(sims.unionByName(twins))
    return pairs.where(F.col("doc_b") - F.col("doc_a") == 1000000).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


SQL_SIMHASH_WIDE = """
SELECT CAST(doc_id AS BIGINT) AS doc_a,
       CAST(doc_id + 1000000 AS BIGINT) AS doc_b,
       CAST(doc_id % 3 + 1 AS INTEGER) AS hamming
FROM documents WHERE doc_id < 60
"""


def q_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash recall contract: all 20 planted exact-duplicate pairs
    (doc_id, doc_id+1e6) must be recovered at Hamming distance 0 —
    identical normalized text gives identical sketches, and the
    pigeonhole banding guarantees any pair within the distance bound
    shares a block. The oracle is the contract itself."""
    from swspark.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).select(
        "doc_id", "text"
    )
    copies = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    pairs = simhash_pairs(docs.unionByName(copies), max_hamming=3)
    planted = pairs.where(
        (F.col("doc_b") - F.col("doc_a") == 1000000) & (F.col("doc_a") < 20)
    )
    return planted.agg(
        F.count(F.lit(1)).cast("long").alias("n_planted_found"),
        F.max("hamming").cast("long").alias("max_planted_hamming"),
    )


SQL_SIMHASH_PLANTED = (
    "SELECT CAST(20 AS BIGINT) AS n_planted_found, "
    "CAST(0 AS BIGINT) AS max_planted_hamming"
)


# --------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swspark.textops import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_ws"),
        token_count_bpe(F.col("text")).cast("long").alias("n_bpe"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_extract_all(trim(text), '\S+')) END AS n_ws,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swspark.textops import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")) * 10000).cast("long").alias(
            "quality_x1e4"
        ),
    )


_WORDS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_EN_SQL = "['the','and','of','to','is','in','that','it','for','was']"
_FR_SQL = "['le','la','les','et','de','des','un','une','est','que']"

SQL_QUALITY_SCORE = rf"""
SELECT doc_id, CAST(ROUND(ROUND((
    LEAST(length(text) / 500.0, 1.0)
  + (1.0 - LEAST(4.0 * (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                 / GREATEST(length(text), 1), 1.0))
  + LEAST(5.0 * len(list_filter({_WORDS_SQL}, w -> list_contains({_EN_SQL}, w)))
          / GREATEST(len({_WORDS_SQL}), 1), 1.0)
  + CASE WHEN (CAST(len(array_to_string({_WORDS_SQL}, '')) AS DOUBLE)
               / GREATEST(len({_WORDS_SQL}), 1)) BETWEEN 3 AND 10
         THEN 1.0 ELSE 0.3 END
) / 4, 6) * 10000) AS BIGINT) AS quality_x1e4
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swspark.textops import lang_id_stopwords

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id_stopwords(F.col("text")).alias("lang_pred")
    )


SQL_LANG_ID = f"""
SELECT doc_id,
  CASE
    WHEN len(list_filter({_WORDS_SQL}, w -> list_contains({_EN_SQL}, w))) = 0
     AND len(list_filter({_WORDS_SQL}, w -> list_contains({_FR_SQL}, w))) = 0
    THEN 'unknown'
    WHEN len(list_filter({_WORDS_SQL}, w -> list_contains({_EN_SQL}, w)))
      >= len(list_filter({_WORDS_SQL}, w -> list_contains({_FR_SQL}, w)))
    THEN 'en' ELSE 'fr' END AS lang_pred
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swspark.textops import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
FROM documents
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (vectorized pandas UDF). The oracle
    replicates the model exactly in SQL: a profile trigram occurs as a
    substring of ' '||lower(text)||' ' iff it is in the document's
    trigram set, so per-language scores (and the en-first tie-break /
    min-score-3 rule) are SQL-expressible."""
    from swspark.textops import make_lang_id_udf

    docs = _tp(spark, sf_dir, "documents")
    udf = make_lang_id_udf()
    return docs.select("doc_id", udf(F.col("text")).alias("lang_pred"))


def _profile_score_sql(lang: str) -> str:
    from swspark.textops import _PROFILES

    grams = ", ".join("'" + g.replace("'", "''") + "'" for g in _PROFILES[lang])
    return (
        f"len(list_filter([{grams}], "
        "g -> contains(' ' || lower(text) || ' ', g)))"
    )


SQL_LANG_ID_NGRAM = f"""
SELECT doc_id,
  CASE
    WHEN COALESCE(text, '') = '' THEN 'unknown'
    WHEN {_profile_score_sql("en")} >= {_profile_score_sql("fr")}
     AND {_profile_score_sql("en")} >= 3 THEN 'en'
    WHEN {_profile_score_sql("fr")} > {_profile_score_sql("en")}
     AND {_profile_score_sql("fr")} >= 3 THEN 'fr'
    ELSE 'unknown' END AS lang_pred
FROM documents
"""


# --------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 vs vec_id 0's embedding (exact ANN
    baseline; JVM HOF dot products)."""
    from swspark.simsearch import brute_force_topk

    emb = _tp(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = brute_force_topk(emb, q, k=20)
    return top.select(
        "vec_id",
        F.round(F.col("cos_sim") * 10000).cast("long").alias("cos_x1e4"),
    )


SQL_ANN_TOPK = """
SELECT e.vec_id,
       CAST(ROUND(ROUND(list_cosine_similarity(
            CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6)
            * 10000) AS BIGINT) AS cos_x1e4
FROM embeddings e,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.embedding AS DOUBLE[])) DESC,
         e.vec_id ASC
LIMIT 20
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.99) with hyperplane-LSH
    blocking; dups planted by self-union so the oracle's brute force
    agrees (identical vectors always share a bucket)."""
    from swspark.simsearch import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    copies = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    # a query builder leaves no cache in the session: nothing would
    # unpersist it
    pairs = embedding_neardup_pairs(
        emb.unionByName(copies), threshold=0.99, bits=6
    )
    return pairs.select("doc_a", "doc_b")


SQL_EMBEDDING_NEARDUP = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id < 50
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.99
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-k, made
    oracle-checkable: the query returns (n_retrieved, recall_ok) where
    recall_ok asserts >= 80% of the exact brute-force top-10 was
    recovered by the 8-table depth-2 multi-probe search. The oracle is
    the contract itself. (These synthetic embeddings have ~0.3-cosine
    neighbors, so single-table LSH cannot reach this recall; the
    multi-table union can — 1-(1-p)^L.)"""
    from swspark.simsearch import (
        brute_force_topk,
        multitable_lsh_index,
        multitable_lsh_topk,
    )

    emb = _tp(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    indexed, planes = multitable_lsh_index(emb, bits=8, n_tables=8)
    approx = multitable_lsh_topk(indexed, planes, q, k=10, depth=2).select(
        "vec_id"
    )
    exact = brute_force_topk(emb, q, k=10).select("vec_id")
    hits = approx.join(exact, "vec_id", "left_semi")
    return (
        approx.agg(F.count(F.lit(1)).cast("long").alias("n_retrieved"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select("n_retrieved", (F.col("n_hits") >= 8).alias("recall_ok"))
    )


SQL_LSH_TOPK = "SELECT CAST(10 AS BIGINT) AS n_retrieved, TRUE AS recall_ok"


# --------------------------------------------------------------------
# extraction byte-identity (fixture parquet committed in-repo)
# --------------------------------------------------------------------

_FIXTURE_PAGES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "fixture_pages.parquet"
)


def q_extract_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical whole-document text extraction (A9/A13/A32): run
    the fulltext Arrow extraction UDF (stdlib-DOM parse + inner_text,
    element_ref/mod.rs:87-99 semantics) over the committed fixture
    pages; the oracle reads the independently-assembled golden `text`
    column straight from the same parquet. Any divergence in parsing,
    whitespace, or entity handling flips the hash."""
    from swspark.extract.udf import apply_extraction

    pages = spark.read.parquet(_FIXTURE_PAGES).select("url", "html")
    rec, _urls, _errs = apply_extraction(pages, "fulltext")
    return rec.select("url", "text")


SQL_EXTRACT_IDENTITY = (
    f"SELECT url, text FROM read_parquet('{_FIXTURE_PAGES}')"
)


_FIXTURE_WARC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data",
    "fixture_pages.warc.gz",
)


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-shaped ingestion end-to-end: a committed WARC/1.0
    gzip file -> distributed binaryFile scan + mapInPandas record
    exploder (swspark.warc.read_warc) -> fulltext extraction. The
    oracle is the same independent golden text, so this proves the
    WARC parse AND the extraction are byte-exact through one plan."""
    from swspark.extract.udf import apply_extraction
    from swspark.warc import read_warc

    pages = read_warc(spark, _FIXTURE_WARC).select("url", "html")
    rec, _urls, _errs = apply_extraction(pages, "fulltext")
    return rec.select("url", "text")


SQL_WARC_EXTRACT = SQL_EXTRACT_IDENTITY


# --------------------------------------------------------------------
# multimodal columns (committed fixture parquet with independent goldens)
# --------------------------------------------------------------------

_FIXTURE_MEDIA = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "fixture_media.parquet"
)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (mapInPandas over opaque binary
    columns, swspark.multimodal.decode_media): deterministic fake
    decode -> (n_bytes, sha1 content hash), byte-exact vs goldens
    computed independently (plain numpy/hashlib) at fixture-generation
    time. The real codec is a documented plug-in point (PIL/ffmpeg
    unavailable offline); the distributed batch shape is what's
    proven here."""
    from swspark.multimodal import decode_media

    media = spark.read.parquet(_FIXTURE_MEDIA).select(
        "media_id", "kind", "bytes", "width", "height", "duration_ms", "mime"
    )
    dec = decode_media(media, fake=True)
    return dec.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("content_hash").alias("sha1"),
    )


SQL_MEDIA_DECODE = (
    f"SELECT media_id, CAST(golden_n_bytes AS BIGINT) AS n_bytes, "
    f"golden_sha1 AS sha1 FROM read_parquet('{_FIXTURE_MEDIA}')"
)


def q_media_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only multimodal ops — resize targets + video frame
    sampling plan computed without ever reading the blob column
    (pushdown-friendly); fully SQL-expressible."""
    from swspark.multimodal import frame_sample_plan, resize_meta

    media = spark.read.parquet(_FIXTURE_MEDIA)
    rs = resize_meta(media, max_side=256)
    fr = frame_sample_plan(media, every_ms=1000).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return rs.join(fr, "media_id", "left").select(
        "media_id",
        "kind",
        "target_w",
        "target_h",
        F.coalesce(F.col("n_frames"), F.lit(0)).cast("long").alias("n_frames"),
    )


SQL_MEDIA_PLAN = f"""
WITH rs AS (
  SELECT media_id, kind,
    CAST(ROUND(width * LEAST(1.0, 256.0 / GREATEST(width, height))) AS INT)
      AS target_w,
    CAST(ROUND(height * LEAST(1.0, 256.0 / GREATEST(width, height))) AS INT)
      AS target_h
  FROM read_parquet('{_FIXTURE_MEDIA}') WHERE kind != 'audio'
),
fr AS (
  SELECT media_id, COUNT(*) AS n_frames
  FROM (SELECT media_id,
               unnest(generate_series(0, duration_ms - 1, 1000)) AS off
        FROM read_parquet('{_FIXTURE_MEDIA}') WHERE kind = 'video')
  GROUP BY 1
)
SELECT rs.media_id, kind, target_w, target_h,
       CAST(COALESCE(fr.n_frames, 0) AS BIGINT) AS n_frames
FROM rs LEFT JOIN fr ON rs.media_id = fr.media_id
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer approximate top-k, oracle-checkable like
    lsh_topk: (n_retrieved, recall_ok) with recall >= 80% of the exact
    brute-force top-10 as the contract. These synthetic embeddings
    have no cluster structure, so a wide nprobe is needed at this
    scale; on real embeddings the same plumbing prunes far harder."""
    from swspark.simsearch import brute_force_topk, ivf_index, ivf_topk

    emb = _tp(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    indexed, cents = ivf_index(emb, n_lists=16, iters=2)
    approx = ivf_topk(indexed, cents, q, k=10, nprobe=12).select("vec_id")
    exact = brute_force_topk(emb, q, k=10).select("vec_id")
    hits = approx.join(exact, "vec_id", "left_semi")
    return (
        approx.agg(F.count(F.lit(1)).cast("long").alias("n_retrieved"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select("n_retrieved", (F.col("n_hits") >= 8).alias("recall_ok"))
    )


SQL_IVF_TOPK = "SELECT CAST(10 AS BIGINT) AS n_retrieved, TRUE AS recall_ok"


# --------------------------------------------------------------------
# crawl engine end-to-end (fixture-backed; rows-only)
# --------------------------------------------------------------------

_FIXTURE_CACHE: dict = {}


def q_crawl_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One end-to-end crawl over the deterministic fixture corpus:
    sitemap expansion -> politeness schedule -> fetch -> extract.
    Returns the crawl-order trace (wave, host, url, rank).

    Oracle-checked: the engine's scheduling law is closed-form for a
    single-host frontier with equal priorities — URLs sort ascending
    and fill budget-sized waves — so the multi-wave trace equals a
    ROW_NUMBER chunking over the committed accepted-URL fixture
    (data/fixture_dict_urls.parquet, generated independently from the
    corpus goldens + politeness budget floor(10/crawl_delay)=20)."""
    import tempfile

    from swspark.driver import CrawlConfig, CrawlState, crawl
    from swspark.fixtures import generate_corpus

    c = _FIXTURE_CACHE.get("tiny") or generate_corpus("tiny")
    _FIXTURE_CACHE["tiny"] = c
    wh = tempfile.mkdtemp(prefix="swspark-entry-")
    cfg = CrawlConfig(spec="urbandict", wave_period=10.0)
    seeds = spark.createDataFrame(c.seeds)
    crawl(
        spark,
        cfg,
        wh,
        seeds.where(F.col("scenario") == "dict_sitemap"),
        spark.createDataFrame(c.sitemaps),
        spark.createDataFrame(c.robots[["host", "body"]]),
        spark.createDataFrame(c.pages),
        accept=lambda url, kind: F.when(
            kind == "URLSET", url.contains("term=")
        ).otherwise(F.lit(True)),
    )
    return CrawlState(wh).seen.read(spark).select(
        F.col("wave").cast("long").alias("wave"),
        "host",
        "url",
        F.col("rank").cast("long").alias("rank"),
    )


_FIXTURE_DICT_URLS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data",
    "fixture_dict_urls.parquet",
)

SQL_CRAWL_WAVE = f"""
SELECT CAST((rn - 1) // budget AS BIGINT) AS wave,
       host, url,
       CAST((rn - 1) % budget + 1 AS BIGINT) AS rank
FROM (
  SELECT url, host, budget,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) AS rn
  FROM read_parquet('{_FIXTURE_DICT_URLS}')
)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_schedule_wave(spark, "/root/testdata/sf0.001")



def q_frontier_oplog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier op-log fold (swspark.driver.fold_frontier_ops — how
    every wave, and resume, rebuilds the frontier from its commits):
    base ⊳ (adds, dels) with last-del-wins per key, same-wave del
    beating its add, earliest-discovered row winning among survivors.
    Base/ops are synthesized deterministically from the events table;
    URLs are pre-canonical so the DuckDB twin can fold on the url
    string alone (url_hash is a pure function of it)."""
    from swspark.driver import FRONTIER_SCHEMA, fold_frontier_ops
    from swspark.seen import with_url_identity
    from swspark import urlnorm

    ev = _tp(spark, sf_dir, "events").select("event_id", "user_id")
    url = F.concat(
        F.lit("https://host"), (F.col("user_id") % 20).cast("string"),
        F.lit(".example.test/ev/"), F.col("event_id").cast("string"),
    )

    def rows(df, wave_col):
        return (
            with_url_identity(df)
            .withColumn("host", urlnorm.url_host(F.col("url")))
            .withColumn("priority", F.lit(0))
            .withColumn("last_fetch_ts", F.lit(None).cast("timestamp"))
            .withColumn("discovered_wave", wave_col.cast("int"))
            .select([f.name for f in FRONTIER_SCHEMA.fields])
        )

    base = rows(
        ev.where(F.col("event_id") % 5 != 0).select(url.alias("url")), F.lit(0)
    )
    adds = rows(
        ev.where(F.col("event_id") % 4 == 0)
        .select(url.alias("url"), ((F.col("event_id") % 9) + 1).alias("w")),
        F.col("w"),
    ).withColumn("op", F.lit("add")).withColumn(
        "delta_wave", F.col("discovered_wave")
    )
    val_fields = [
        f for f in FRONTIER_SCHEMA.fields
        if f.name not in ("url_hash", "url_canon")
    ]
    dels = (
        with_url_identity(
            ev.where(F.col("event_id") % 3 == 0)
            .select(url.alias("url"), ((F.col("event_id") % 7) + 1).alias("w"))
        )
        .select(
            "url_hash", "url_canon",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in val_fields],
            F.lit("del").alias("op"),
            F.col("w").cast("int").alias("delta_wave"),
        )
    )
    out = fold_frontier_ops(base, adds.unionByName(dels.select(adds.columns)))
    return out.select(
        "url", "host", F.col("discovered_wave").cast("long").alias("discovered_wave")
    )


SQL_FRONTIER_OPLOG = """
WITH u AS (
  SELECT event_id,
         'https://host' || CAST(user_id % 20 AS VARCHAR)
           || '.example.test/ev/' || CAST(event_id AS VARCHAR) AS url,
         'host' || CAST(user_id % 20 AS VARCHAR) || '.example.test' AS host
  FROM events
), base AS (
  SELECT url, host, 0 AS discovered_wave FROM u WHERE event_id % 5 <> 0
), dels AS (
  SELECT url, MAX((event_id % 7) + 1) AS last_del
  FROM u WHERE event_id % 3 = 0 GROUP BY url
), adds AS (
  SELECT url, host, (event_id % 9) + 1 AS delta_wave,
         (event_id % 9) + 1 AS discovered_wave
  FROM u WHERE event_id % 4 = 0
), base_live AS (
  SELECT b.url, b.host, b.discovered_wave FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM dels d WHERE d.url = b.url)
), adds_live AS (
  SELECT a.url, a.host, a.discovered_wave FROM adds a
  LEFT JOIN dels d ON d.url = a.url
  WHERE d.last_del IS NULL OR a.delta_wave > d.last_del
)
SELECT url, host, CAST(MIN(discovered_wave) AS BIGINT) AS discovered_wave
FROM (SELECT * FROM base_live UNION ALL SELECT * FROM adds_live)
GROUP BY url, host
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "schedule_wave": q_schedule_wave,
        "seen_anti_join": q_seen_anti_join,
        "politeness_budget": q_politeness_budget,
        "host_agg": q_host_agg,
        "events_daily": q_events_daily,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "simhash_wide": q_simhash_wide,
        "simhash_planted": q_simhash_planted,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "fingerprint": q_fingerprint,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "extract_identity": q_extract_identity,
        "warc_extract": q_warc_extract,
        "media_decode": q_media_decode,
        "media_plan": q_media_plan,
        "crawl_wave": q_crawl_wave,
        "frontier_oplog": q_frontier_oplog,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "schedule_wave": SQL_SCHEDULE_WAVE,
        "seen_anti_join": SQL_SEEN_ANTI_JOIN,
        "politeness_budget": SQL_POLITENESS_BUDGET,
        "host_agg": SQL_HOST_AGG,
        "events_daily": SQL_EVENTS_DAILY,
        "exact_dedup": SQL_EXACT_DEDUP,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "token_stats": SQL_TOKEN_STATS,
        "quality_score": SQL_QUALITY_SCORE,
        "lang_id": SQL_LANG_ID,
        "fingerprint": SQL_FINGERPRINT,
        "ann_topk": SQL_ANN_TOPK,
        "embedding_neardup": SQL_EMBEDDING_NEARDUP,
        "minhash_lsh": SQL_MINHASH_LSH,
        "lang_id_ngram": SQL_LANG_ID_NGRAM,
        "lsh_topk": SQL_LSH_TOPK,
        "ivf_topk": SQL_IVF_TOPK,
        "extract_identity": SQL_EXTRACT_IDENTITY,
        "warc_extract": SQL_WARC_EXTRACT,
        "media_decode": SQL_MEDIA_DECODE,
        "media_plan": SQL_MEDIA_PLAN,
        "crawl_wave": SQL_CRAWL_WAVE,
        "frontier_oplog": SQL_FRONTIER_OPLOG,
        "simhash_planted": SQL_SIMHASH_PLANTED,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "simhash_wide": SQL_SIMHASH_WIDE,
    }
