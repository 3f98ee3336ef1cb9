"""Tests for the training-data ops: text analysis, dedup family,
similarity search, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from swspark import dedup, simsearch, textops

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog and it was good."),
    (1, "The quick brown fox jumps over the lazy dog and it was good."),  # exact dup
    (2, "The quick brown fox jumps over the lazy dog and it was fine."),  # near dup
    (3, "Le chat est sur la table et le chien est dans le jardin."),
    (4, "Completely different content about spark query planning engines."),
    (5, "the quick brown fox JUMPS over the lazy dog and it was good!!"),  # norm dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


# --- textops ----------------------------------------------------------


def test_token_counts(spark, docs):
    r = docs.select(
        "doc_id",
        textops.token_count_ws(F.col("text")).alias("ws"),
        textops.token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()
    by_id = {x.doc_id: x for x in r}
    assert by_id[0].ws == 13
    assert by_id[0].bpe == 14  # 13 words + '.'
    assert by_id[5].bpe == 15  # 13 words + '!!' as two marks? -> check below
    # exact python reference
    import re

    for row in DOCS:
        exp = len(re.findall(textops.BPE_ISH_RE, row[1]))
        assert by_id[row[0]].bpe == exp


def test_empty_text_token_count(spark):
    df = spark.createDataFrame([(0, ""), (1, "   "), (2, "one")],
                               "doc_id long, text string")
    r = {x.doc_id: x for x in df.select(
        "doc_id", textops.token_count_ws(F.col("text")).alias("ws")
    ).collect()}
    assert r[0].ws == 0 and r[1].ws == 0 and r[2].ws == 1


def test_lang_id_stopwords(spark, docs):
    r = {x.doc_id: x.l for x in docs.select(
        "doc_id", textops.lang_id_stopwords(F.col("text")).alias("l")
    ).collect()}
    assert r[0] == "en"
    assert r[3] == "fr"


def test_lang_id_ngram_udf(spark, docs):
    udf = textops.make_lang_id_udf()
    r = {x.doc_id: x.l for x in docs.select(
        "doc_id", udf(F.col("text")).alias("l")
    ).collect()}
    assert r[0] == "en"
    assert r[3] == "fr"


def test_quality_score_bounds(spark, docs):
    vals = [
        x.q
        for x in docs.select(textops.quality_score(F.col("text")).alias("q")).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprint_matches_duckdb(spark, docs):
    import duckdb

    got = {
        x.doc_id: x.fp
        for x in docs.select(
            "doc_id", textops.doc_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    con = duckdb.connect()
    for doc_id, text in DOCS:
        exp = con.sql(
            "select md5(array_to_string(regexp_extract_all(lower($t), '[a-z0-9]+'), ' '))",
            params={"t": text},
        ).fetchone()[0]
        assert got[doc_id] == exp, doc_id


# --- dedup ------------------------------------------------------------


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.all_ids == [0, 1, 5]  # 5 normalizes to the same text
    assert g.keep_id == 0


def _exact_jaccard_pairs(threshold, n=5):
    def shingle(t):
        import re

        norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        return {norm[i : i + n] for i in range(max(len(norm) - n + 1, 0))}

    out = []
    for i, ta in DOCS:
        for j, tb in DOCS:
            if i >= j:
                continue
            sa, sb = shingle(ta), shingle(tb)
            jac = len(sa & sb) / len(sa | sb)
            if jac >= threshold:
                out.append((i, j, round(jac, 6)))
    return sorted(out)


def test_ngram_jaccard_pairs(spark, docs):
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    )
    assert got == _exact_jaccard_pairs(0.7)


def test_minhash_lsh_recall(spark, docs):
    exp = {(a, b) for a, b, _ in _exact_jaccard_pairs(0.7)}
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.7).collect()
    }
    # verification guarantees precision; recall must be full here
    # (identical/near-identical docs share every band)
    assert got == exp


def test_simhash_identity_and_pairs(spark):
    # simhash needs real-length docs: a one-word edit on a long page
    # perturbs few shingles -> small Hamming distance
    base = " ".join(
        f"paragraph {i} the quick brown fox jumps over the lazy dog"
        for i in range(40)
    )
    near = base.replace("paragraph 17", "paragraph XX")
    import random

    rng = random.Random(1)
    other = " ".join(
        rng.choice(["alpha", "beta", "gamma", "delta", "epsilon"])
        for _ in range(400)
    )
    long_docs = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (4, other)],
        "doc_id long, text string",
    )
    sims = {
        r.doc_id: r.s
        for r in long_docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("s")
        ).collect()
    }
    assert sims[0] == sims[1]  # identical
    ham02 = bin((sims[0] ^ sims[2]) & (2**64 - 1)).count("1")
    ham04 = bin((sims[0] ^ sims[4]) & (2**64 - 1)).count("1")
    assert ham02 <= 3 < ham04  # near-dup within simhash radius

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(long_docs, max_hamming=3).collect()
    }
    # brute-force check of the banding blocking join
    exp = {}
    ids = sorted(sims)
    for i in ids:
        for j in ids:
            d = bin((sims[i] ^ sims[j]) & (2**64 - 1)).count("1")
            if i < j and d <= 3:
                exp[(i, j)] = d
    assert pairs == exp
    assert (0, 2) in pairs


# --- simsearch -----------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    m = rng.standard_normal((200, 16)).astype(np.float32)
    m[7] = m[3] * 1.001 + 0.0001  # planted near-dup of 3
    rows = [(int(i), [float(x) for x in m[i]]) for i in range(len(m))]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        m,
    )


def test_simhash_fast_equals_jvm(spark, docs):
    """The numpy bit-vote sketch must be bit-identical to the pure-JVM
    64-aggregate formulation (same xxhash64 shingle hashes feed both)."""
    from swspark.dedup import simhash64, simhash64_fast

    both = docs.select(
        simhash64(F.col("text")).alias("jvm"),
        simhash64_fast(F.col("text")).alias("fast"),
    )
    assert both.where(F.col("jvm") != F.col("fast")).count() == 0


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, m = vectors
    q = m[3].astype(float)
    got = simsearch.brute_force_topk(df, [float(x) for x in q], k=5).collect()
    md = m.astype(float)
    sims = (md @ q) / (np.linalg.norm(md, axis=1) * np.linalg.norm(q))
    exp_ids = np.argsort(-sims)[:5].tolist()
    assert [r.vec_id for r in got] == exp_ids
    assert got[0].cos_sim == pytest.approx(1.0, abs=1e-6)


def test_lsh_topk_finds_neardup(spark, vectors):
    df, m = vectors
    indexed, planes = simsearch.lsh_index(df, bits=6)
    got = simsearch.lsh_topk(indexed, planes, [float(x) for x in m[3]], k=3,
                             probes=6)
    ids = [r.vec_id for r in got.collect()]
    assert 3 in ids and 7 in ids  # query itself + planted near-dup


def test_embedding_neardup_pairs(spark, vectors):
    df, m = vectors
    pairs = simsearch.embedding_neardup_pairs(df, threshold=0.999, bits=6)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (3, 7) in got
    md = m.astype(float)
    norm = md / np.linalg.norm(md, axis=1, keepdims=True)
    sims = norm @ norm.T
    exp = {
        (i, j)
        for i in range(len(m))
        for j in range(i + 1, len(m))
        if sims[i, j] >= 0.999
    }
    assert got == exp
    # a repeated id (the same row read twice) must not repeat a pair
    again = df.unionByName(df.where(df.vec_id.isin(3, 7)))
    rows = [
        (r.doc_a, r.doc_b) for r in simsearch.embedding_neardup_pairs(
            again, threshold=0.999, bits=6
        ).collect()
    ]
    assert len(rows) == len(set(rows))
    assert set(rows) == exp


def test_ivf_topk(spark, vectors):
    df, m = vectors
    indexed, centroids = simsearch.ivf_index(df, n_lists=8)
    got = simsearch.ivf_topk(indexed, centroids, [float(x) for x in m[3]],
                             k=3, nprobe=4)
    ids = [r.vec_id for r in got.collect()]
    assert 3 in ids


def test_ivf_kmeans_iterations_improve_quantization(spark, vectors):
    """Distributed Lloyd iterations must not degrade (and should
    improve) the mean cosine of each vector to its assigned centroid
    (spherical k-means objective)."""
    df, m = vectors

    def quality(iters):
        indexed, cents = simsearch.ivf_index(df, n_lists=8, iters=iters)
        rows = indexed.select("list_id", "embedding").collect()
        md = np.array([r.embedding for r in rows], dtype=float)
        md /= np.linalg.norm(md, axis=1, keepdims=True) + 1e-12
        lists = np.array([r.list_id for r in rows])
        return float(np.mean(np.sum(md * cents[lists], axis=1)))

    q0, q2 = quality(0), quality(2)
    assert q2 >= q0 - 1e-9
    assert q2 > q0  # on random data the improvement is strict


# --- multimodal ------------------------------------------------------------


def test_multimodal_decode_and_features(spark):
    import hashlib

    from swspark import multimodal

    media = multimodal.synth_media(spark, n=30)
    decoded = multimodal.decode_media(media, fake=True)
    rows = {r.media_id: r for r in decoded.collect()}
    raw = {r.media_id: bytes(r.bytes) for r in media.collect()}
    for mid, b in raw.items():
        assert rows[mid].n_bytes == len(b)
        assert rows[mid].content_hash == hashlib.sha1(b).hexdigest()
        assert rows[mid].mean_intensity == pytest.approx(
            float(np.frombuffer(b, np.uint8).mean()), rel=1e-5
        )

    feats = multimodal.extract_features(media).collect()
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in feats)
    # deterministic across repartition (batch-shape independence)
    feats2 = multimodal.extract_features(media.repartition(7)).collect()
    f1 = {r.media_id: r.feature for r in feats}
    f2 = {r.media_id: r.feature for r in feats2}
    assert f1 == f2


def test_multimodal_decode_stub_raises(spark):
    from swspark import multimodal

    media = multimodal.synth_media(spark, n=3)
    with pytest.raises(Exception) as ei:
        multimodal.decode_media(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_multimodal_meta_plans(spark):
    from swspark import multimodal

    media = multimodal.synth_media(spark, n=30)
    rs = multimodal.resize_meta(media, max_side=128).collect()
    assert all(max(r.target_w, r.target_h) <= 128 for r in rs)
    plan = multimodal.frame_sample_plan(media, every_ms=500)
    pdf = plan.toPandas()
    meta = media.where(F.col("kind") == "video").select(
        "media_id", "duration_ms"
    ).toPandas()
    exp_counts = {
        r.media_id: len(range(0, r.duration_ms, 500)) for r in meta.itertuples()
    }
    got_counts = pdf.groupby("media_id").size().to_dict()
    assert got_counts == exp_counts


def test_simhash_wide_pairs(spark):
    """128-bit simhash (the measured scale path): exact copies recover
    at Hamming 0; flipping k sketch bits across the two words recovers
    at exactly k (pigeonhole over 4x32-bit bands)."""
    from pyspark.sql import functions as F

    from swspark.dedup import simhash_pairs_wide, simhash_pairs_wide_from_sketches

    base = " ".join(
        f"para {i} the quick brown fox jumps over the lazy dog"
        for i in range(40)
    )
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, "completely different tiny text")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_pairs_wide(docs).collect()}
    assert got.get((0, 1)) == 0
    assert (0, 2) not in got and (1, 2) not in got

    sims = spark.createDataFrame(
        [(0, 7, -9), (1, 7 ^ (1 << 5), -9 ^ (1 << 62))],  # 2 flips
        "id long, s0 long, s1 long",
    )
    pairs = simhash_pairs_wide_from_sketches(sims).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(0, 1, 2)]


def test_simhash_pairs_scale_escalation(spark):
    """simhash_pairs auto-escalates to the 128-bit wide sketch above
    the measured 64-bit candidate-saturation ceiling (BENCH.md r4:
    cand/true = 3,084 at 10^6 docs), without changing the output
    schema; forcing the wide path with a non-default max_hamming is
    an explicit error, not silent recall loss."""
    import pytest as _pytest

    from swspark import dedup

    docs = spark.range(50).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("body text number "),
                 F.col("id").cast("string")).alias("text"),
    )
    narrow = dedup.simhash_pairs(docs, scale="64")
    wide = dedup.simhash_pairs(docs, scale="auto",
                               approx_count=dedup.SIMHASH64_DOC_CEILING + 1)
    assert narrow.schema == wide.schema
    # auto below the ceiling keeps the 64-bit sketch: identical result
    auto_small = dedup.simhash_pairs(docs, scale="auto", approx_count=50)
    assert sorted(map(tuple, auto_small.collect())) == sorted(
        map(tuple, narrow.collect())
    )
    with _pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=2, scale="wide")
