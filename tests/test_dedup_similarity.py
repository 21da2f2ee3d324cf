"""Unit tests for dedup / similarity / text-analysis functions."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.functions.dedup import (
    exact_dup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from logdata_anomaly_miner_spark.functions.similarity import (
    cosine_topk,
    exact_near_dup_pairs,
    lsh_bucket_topk,
)
from logdata_anomaly_miner_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog!!"),     # normalized dup of 1
    (4, "the quick brown fox leaps over the lazy dog"),       # near dup (1 word)
    (5, "completely different text about spark dataframes here"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dup_groups(spark):
    out = exact_dup_groups(_docs(spark), "doc_id", "text").collect()
    assert len(out) == 1
    assert sorted(out[0]["doc_ids"]) == [1, 2, 3]  # normalization folds 3 in


def _ref_shingles(text, k=3):
    toks = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip().split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}


def _ref_lsh_candidates(docs, hash_fn, n_hashes, bands, rows):
    """Plain-Python MinHash + banding: minhash_i = min over the shingles of
    hash_fn(i, shingle); a band's bucket is md5 of its minhashes joined by
    "|" in seed order; docs sharing a (band, bucket) are candidates."""
    buckets: dict[tuple[int, str], list[int]] = {}
    for doc_id, text in docs:
        sig = [min(hash_fn(i, sh) for sh in _ref_shingles(text)) for i in range(n_hashes)]
        for b in range(bands):
            key = "|".join(str(m) for m in sig[b * rows : (b + 1) * rows])
            buckets.setdefault((b, hashlib.md5(key.encode()).hexdigest()), []).append(doc_id)
    return {(a, c) for ids in buckets.values() for a in ids for c in ids if a < c}


def _md5_minhash(i, sh):
    return hashlib.md5(f"{i}:{sh}".encode()).hexdigest()


def _spark_xx_minhash(spark, docs, n_hashes):
    """xxhash64(seed, xxhash64(shingle)) for every (seed, shingle) of
    ``docs``, taken from Spark as the hash primitive only (no Python
    xxhash)."""
    shs = sorted({sh for _, t in docs for sh in _ref_shingles(t)})
    df = spark.createDataFrame(
        [(i, sh) for i in range(n_hashes) for sh in shs], "i int, sh string"
    )
    h = df.select("i", "sh", F.xxhash64("i", F.xxhash64("sh")).alias("h")).collect()
    table = {(r["i"], r["sh"]): r["h"] for r in h}
    return lambda i, sh: table[(i, sh)]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(_docs(spark)).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(5 in p for p in pairs)
    # the jaccard~0.4 pair (1,4) is below these banding parameters' reliable
    # recall (sim^rows per band) — the exact inverted-index path finds it:
    verified = ngram_jaccard_pairs(_docs(spark), None, "doc_id", "text", 3, 0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.3 <= got[(1, 4)] < 1.0


def test_minhash_lsh_candidates_match_python_reference(spark):
    """minhash_lsh_candidates emits exactly the candidate set of the
    plain-Python MinHash + banding reference, for both hash families. The
    one-word variants of one sentence are pairwise near the banding
    threshold, so which of them pair depends on the exact hash values."""
    words = "the engine validates every span of every document in one pass".split()
    rows = DOCS + [
        (100 + j, " ".join("zz" if i == j else w for i, w in enumerate(words)))
        for j in range(len(words))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for use_xx, nh, bands, rpb in [(False, 16, 4, 4), (True, 30, 10, 3)]:
        hash_fn = _spark_xx_minhash(spark, rows, nh) if use_xx else _md5_minhash
        want = _ref_lsh_candidates(rows, hash_fn, nh, bands, rpb)
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(
                docs, "doc_id", "text", n_hashes=nh, shingle_k=3,
                bands=bands, rows_per_band=rpb, use_xx=use_xx,
            ).collect()
        }
        assert got == want and got, use_xx


def test_cosine_topk_and_lsh(spark):
    rows = [(i, [1.0, 0.0] if i < 3 else [0.0, 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(df, "embedding", [1.0, 0.0], k=3)
    assert [r["vec_id"] for r in top.collect()] == [0, 1, 2]
    assert all(r["cosine"] == 1.0 for r in top.collect())
    lsh = lsh_bucket_topk(df, "embedding", [1.0, 0.0], k=3, n_planes=6)
    assert {r["vec_id"] for r in lsh.collect()} <= {0, 1, 2}


def test_exact_near_dup_pairs_blas(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0]), (3, [0.01, 0.999])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           exact_near_dup_pairs(df, threshold=0.9).collect()}
    assert set(out) == {(0, 1), (2, 3)}
    assert all(v > 0.99 for v in out.values())


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([("hello world, 42 times!",)], "text string")
    r = df.select(
        token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert r["ws"] == 4            # hello / world, / 42 / times!
    assert r["bpe"] == 6           # hello world , 42 times !
    want = sum(ord(c) * (i + 1) for i, c in enumerate("hello world, 42 times!")) % 1_000_000_007
    assert r["fp"] == want

def test_ivf_topk_recall(spark):
    """IVF ANN: on well-separated clusters the probe set covers the query's
    neighborhood, so the top-k equals the exact scan's."""
    import random

    from logdata_anomaly_miner_spark.functions.similarity import ivf_topk

    rng = random.Random(5)
    rows = []
    centers = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)]
    for i in range(240):
        cx = centers[i % 3]
        rows.append((i, [c + rng.uniform(-1, 1) for c in cx]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [10.0, 0.5, 0.0]
    exact = [r["vec_id"] for r in cosine_topk(df, "embedding", query, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(
            spark, df, "embedding", query, k=10, n_centroids=6, n_probe=3
        ).collect()
    ]
    assert approx == exact


@pytest.mark.parametrize("shape", [(0,), (0, 3)])
def test_kmeans_lloyd_empty_sample_raises(shape):
    """An empty training sample (what ivf_topk collects from an empty
    input) is refused with a message naming it, not an IndexError from
    the centroid init."""
    import numpy as np

    from logdata_anomaly_miner_spark.functions.similarity import _kmeans_lloyd

    with pytest.raises(ValueError, match="empty training sample"):
        _kmeans_lloyd(np.empty(shape), k=4, seed=0)
