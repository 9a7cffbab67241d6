"""SemDeDup semantic deduplication: planted near-dup groups inside
k-means clusters; keeper = lowest centroid-cosine member (the paper's
diversity rule), ties by min id. Lloyd training is not
SQL-expressible, so this family is unit-tested (like kmeans/PQ)."""

from __future__ import annotations

import numpy as np
import pytest

from clickhouse_mysql_data_reader_spark.operators.similarity import (
    kmeans_iterate,
    semantic_dedup_decisions,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>",
    )


def _survivors(corpus, dec):
    """Ids a SemDeDup pass keeps: every vector the decision table does
    not mark ``keep = false``."""
    dropped = {r["vec_id"] for r in dec.filter("NOT keep").collect()}
    return {r["vec_id"] for r in corpus.collect()} - dropped


# two well-separated directions; ids 1-3 are a semantic near-dup trio,
# id 4 is same-cluster but distinct, ids 10/11 live in the other cluster
ROWS = [
    (1, (1.0, 0.0)),
    (2, (1.0, 0.01)),
    (3, (1.0, -0.015)),
    (4, (1.0, 0.3)),
    (10, (0.0, 1.0)),
    (11, (0.3, 1.0)),
]


@pytest.mark.slow
def test_semantic_dedup_keeps_least_typical_of_each_group(spark):
    corpus = _mk(spark, ROWS)
    dec = semantic_dedup_decisions(corpus, threshold=0.999, k=2, n_iter=3)
    rows = {r["vec_id"]: r.asDict() for r in dec.collect()}
    # only the trio forms a group; distinct and cross-cluster vectors
    # never appear in the decision table
    assert set(rows) == {1, 2, 3}
    assert len({r["component"] for r in rows.values()}) == 1
    keepers = [i for i, r in rows.items() if r["keep"]]
    assert len(keepers) == 1
    # paper rule: keep the member LEAST similar to its cluster centroid
    expected = min(rows, key=lambda i: (rows[i]["cent_sim"], i))
    assert keepers == [expected]

    assert _survivors(corpus, dec) == {expected, 4, 10, 11}


def test_semantic_dedup_preserves_columns_and_accepts_centroids(spark):
    from pyspark.sql import functions as F

    corpus = _mk(spark, ROWS).withColumn("payload", F.lit("x"))
    cents = kmeans_iterate(corpus, k=2, n_iter=3)
    dec = semantic_dedup_decisions(corpus, 0.999, centroids=cents)
    assert dec.columns == ["vec_id", "component", "cent_sim", "keep"]
    # deterministic: same frozen centroids -> same survivors on rerun
    a = _survivors(corpus, dec)
    b = _survivors(corpus, semantic_dedup_decisions(corpus, 0.999, centroids=cents))
    assert a == b and len(a) == 4


def test_semantic_dedup_no_groups_is_identity(spark):
    corpus = _mk(spark, [(1, (1.0, 0.0)), (2, (0.0, 1.0)), (3, (1.0, 1.0))])
    assert semantic_dedup_decisions(corpus, 0.9999, k=2).count() == 0


def test_semantic_dedup_matches_numpy_reference(spark):
    # randomized-but-seeded corpus: verify group membership against a
    # brute-force numpy reference WITHIN the trained cells
    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 4))
    rows, vid = [], 0
    for b in base:
        for _ in range(rng.integers(1, 4)):
            rows.append((vid, tuple(b + rng.normal(scale=1e-4, size=4))))
            vid += 1
    corpus = _mk(spark, rows)
    thr = 0.9999
    dec = semantic_dedup_decisions(corpus, thr, k=3, n_iter=3)
    got = {r["vec_id"]: r["keep"] for r in dec.collect()}
    # groups shrink the corpus by exactly (|group|-1) per component:
    # one keeper per component
    n_groups = dec.select("component").distinct().count()
    assert sum(got.values()) == n_groups
    assert len(_survivors(corpus, dec)) == len(rows) - (len(got) - n_groups)
