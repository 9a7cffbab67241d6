"""Product quantization (similarity.py PQ family): codebook shape,
code determinism/range, and ADC retrieval quality on planted clusters.
No SQL oracle applies (Lloyd iterations are not practically expressible
in DuckDB), so this is the operator's verification surface."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.similarity import (
    _subspace_bounds,
    pq_adc_topk,
    pq_encode,
    pq_train,
)

DIM, S, K = 8, 2, 4


def _clustered(spark, per_cluster=12, centers=((0, 0), (40, 0), (0, 40))):
    """Well-separated planted clusters in R^8: the first two dims carry
    the cluster center, the rest a small deterministic jitter."""
    rows = []
    vid = 0
    for ci, (cx, cy) in enumerate(centers):
        for j in range(per_cluster):
            vec = [cx + 0.1 * j, cy - 0.1 * j] + [
                0.01 * ((vid * 7 + d) % 5) for d in range(DIM - 2)
            ]
            rows.append((vid, ci, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")


def test_subspace_bounds_cover_and_reject():
    assert _subspace_bounds(8, 2) == [(1, 4), (5, 4)]
    assert _subspace_bounds(64, 4) == [(1, 16), (17, 16), (33, 16), (49, 16)]
    with pytest.raises(ValueError, match="not divisible"):
        _subspace_bounds(10, 4)


def test_pq_train_codebook_shape_and_determinism(spark):
    corpus = _clustered(spark)
    cb = pq_train(corpus, dim=DIM, n_subspaces=S, k=K, n_iter=3)
    rows = cb.collect()
    by_s = {}
    for r in rows:
        by_s.setdefault(r["subspace"], []).append(r)
        assert len(r["centroid"]) == DIM // S
    assert set(by_s) == set(range(S))
    assert all(1 <= len(v) <= K for v in by_s.values())
    again = sorted(map(str, pq_train(corpus, dim=DIM, n_subspaces=S, k=K, n_iter=3).collect()))
    assert sorted(map(str, rows)) == again


def test_pq_encode_codes_in_range_and_deterministic(spark):
    corpus = _clustered(spark)
    cb = pq_train(corpus, dim=DIM, n_subspaces=S, k=K, n_iter=3)
    codes = pq_encode(corpus, cb, dim=DIM, n_subspaces=S).collect()
    # codes are POSITIONS into each subspace's sorted codebook (dense
    # 0..n_cells-1), immune to sparse raw cell ids from hash init
    n_cells = {
        s: len([r for r in cb.collect() if r["subspace"] == s]) for s in range(S)
    }
    assert len(codes) == corpus.count()
    for r in codes:
        assert len(r["codes"]) == S
        for s, c in enumerate(r["codes"]):
            assert 0 <= c < n_cells[s], (s, c)
    again = {r["vec_id"]: list(r["codes"]) for r in pq_encode(corpus, cb, dim=DIM, n_subspaces=S).collect()}
    assert {r["vec_id"]: list(r["codes"]) for r in codes} == again


def test_pq_adc_topk_recovers_planted_clusters(spark):
    """Held-out queries (perturbed cluster members NOT in the corpus):
    the ADC top-1 must come from the query's own planted cluster for
    every query — the clusters are separated by ~40 units while PQ
    quantization error is sub-unit. Also: deterministic rn sequence and
    adc distances are non-decreasing within each query's top-k."""
    corpus = _clustered(spark)
    cb = pq_train(corpus, dim=DIM, n_subspaces=S, k=K, n_iter=3)
    codes = pq_encode(corpus, cb, dim=DIM, n_subspaces=S)
    centers = ((0, 0), (40, 0), (0, 40))
    qrows = []
    for qi, (cx, cy) in enumerate(centers):
        vec = [cx + 0.55, cy + 0.55] + [0.02] * (DIM - 2)
        qrows.append((qi, vec))
    queries = spark.createDataFrame(qrows, "qid long, embedding array<double>")
    top = pq_adc_topk(codes, cb, queries, dim=DIM, n_subspaces=S, k=3).collect()
    cluster_of = {r["vec_id"]: r["cluster"] for r in corpus.collect()}
    by_q = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rows] == [1, 2, 3]
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
        # every returned neighbor is from the query's own cluster
        assert all(cluster_of[r["vec_id"]] == qid for r in rows), rows


def test_pq_adc_distance_tracks_true_distance(spark):
    """ADC is an approximation of the true squared L2: for a query at
    cluster 0's center, the ADC distance to every cluster-0 member must
    be far below the ADC distance to every other-cluster member (the
    inter-cluster gap is ~1600 in squared units)."""
    corpus = _clustered(spark)
    cb = pq_train(corpus, dim=DIM, n_subspaces=S, k=K, n_iter=3)
    codes = pq_encode(corpus, cb, dim=DIM, n_subspaces=S)
    queries = spark.createDataFrame(
        [(0, [0.5, -0.5] + [0.02] * (DIM - 2))], "qid long, embedding array<double>"
    )
    all_ranked = pq_adc_topk(
        codes, cb, queries, dim=DIM, n_subspaces=S, k=corpus.count()
    ).collect()
    cluster_of = {r["vec_id"]: r["cluster"] for r in corpus.collect()}
    same = [r["adc_dist"] for r in all_ranked if cluster_of[r["vec_id"]] == 0]
    other = [r["adc_dist"] for r in all_ranked if cluster_of[r["vec_id"]] != 0]
    assert same and other
    assert max(same) < min(other)
    assert max(same) < 100 < 400 < min(other)


def test_ivfpq_index_and_search_planted_clusters(spark):
    """The full IVF-PQ composition: coarse cells + residual PQ + probe
    search. Held-out queries must retrieve only own-cluster members,
    the equi-join on cell must keep the scan to the probed cells, and
    the true nearest neighbor (exact L2, computed in Python) must
    appear in the ADC top-3 — residuals are small enough that the
    codebooks rank tight-cluster members nearly exactly."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    corpus = _clustered(spark)
    cents, cbs, codes = ivfpq_index(
        corpus, dim=DIM, n_cells=3, n_subspaces=S, k_codes=K, n_iter=3
    )
    assert codes.count() == corpus.count()
    assert {len(r["codes"]) for r in codes.collect()} == {S}

    centers = ((0, 0), (40, 0), (0, 40))
    qrows = [
        (qi, [cx + 0.37, cy - 0.21] + [0.015] * (DIM - 2))
        for qi, (cx, cy) in enumerate(centers)
    ]
    queries = spark.createDataFrame(qrows, "qid long, embedding array<double>")
    top = ivfpq_topk(
        codes, cents, cbs, queries, dim=DIM, n_subspaces=S, n_probe=2, k=3
    ).collect()

    corpus_rows = {r["vec_id"]: (r["cluster"], list(r["embedding"])) for r in corpus.collect()}
    by_q = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rows] == [1, 2, 3]
        assert all(corpus_rows[r["vec_id"]][0] == qid for r in rows), rows
        # exact nearest (python L2) is inside the ADC top-3
        qvec = qrows[qid][1]
        true_nn = min(
            corpus_rows,
            key=lambda vid: (
                sum((a - b) ** 2 for a, b in zip(corpus_rows[vid][1], qvec)),
                vid,
            ),
        )
        assert true_nn in {r["vec_id"] for r in rows}, (qid, true_nn, rows)


@pytest.mark.slow
def test_ivfpq_append_matches_build_encoding(spark, sf_dir):
    """Incremental add: vectors encoded via ivfpq_append against the
    frozen quantizers must be IDENTICAL to the rows the initial build
    produced for them (same cells, same codes) — the append path shares
    the assignment+encode machinery, and this pins that they cannot
    drift. A search over base+appended codes then behaves as if the
    index had been built over everything."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_index,
        ivfpq_topk,
    )
    from clickhouse_mysql_data_reader_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    cents, cbs, codes_full = ivfpq_index(
        emb, dim=dim, n_cells=4, n_subspaces=4, k_codes=8
    )
    late = emb.filter(F.col("vec_id") % 5 == 0)
    appended = ivfpq_append(late, cents, cbs, dim=dim, n_subspaces=4)
    assert appended.columns == codes_full.columns
    want = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in codes_full.join(
            late.select("vec_id"), "vec_id", "left_semi"
        ).collect()
    }
    got = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in appended.collect()}
    assert got == want

    # base (without the late vectors) + appended == full index for search
    base = codes_full.join(late.select("vec_id"), "vec_id", "left_anti")
    union_codes = base.unionByName(appended)
    q = emb.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    hits = ivfpq_topk(
        union_codes, cents, cbs, q, dim=dim, n_subspaces=4, n_probe=2, k=3
    ).collect()
    assert hits, "appended vector must be searchable"
    assert any(r["vec_id"] == 5 for r in hits), "self should rank in top-3"


def test_pq_adc_exact_with_sparse_codebook_cells(spark):
    """Regression: hash-init k-means can leave a codebook's raw cell
    ids sparse (e.g. cells 0,2,5). The ADC fold indexes the LUT by the
    dense code POSITION, so a gapped codebook must still produce
    exactly the numpy ADC distances — the old raw-cell-id codes read
    the wrong LUT slot (or past its end) for every code above a gap."""
    import numpy as np

    dim, s_cnt = 4, 2
    # hand-built codebooks with GAPPED cell ids per subspace
    cb_rows = [
        (0, 0, [0.0, 0.0]),
        (0, 2, [10.0, 0.0]),
        (0, 5, [0.0, 10.0]),
        (1, 1, [1.0, 1.0]),
        (1, 7, [9.0, 9.0]),
    ]
    cb = spark.createDataFrame(
        cb_rows, "subspace int, cell int, centroid array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.1, 0.2, 1.1, 0.9]),   # sub0 -> cell 0, sub1 -> cell 1
            (2, [9.8, 0.1, 8.8, 9.2]),   # sub0 -> cell 2, sub1 -> cell 7
            (3, [0.2, 9.7, 9.1, 8.9]),   # sub0 -> cell 5, sub1 -> cell 7
        ],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [9.9, 0.0, 9.0, 9.0])], "qid bigint, embedding array<double>"
    )
    code_df = pq_encode(corpus, cb, dim=dim, n_subspaces=s_cnt)
    codes = {r["vec_id"]: list(r["codes"]) for r in code_df.collect()}
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_adc_topk(
            code_df, cb, queries, dim=dim, n_subspaces=s_cnt, k=3
        ).collect()
    }

    # numpy reference over the same sorted-codebook positions
    books = {
        0: [np.array(c) for _s, _c, c in cb_rows[:3]],
        1: [np.array(c) for _s, _c, c in cb_rows[3:]],
    }
    q = np.array([9.9, 0.0, 9.0, 9.0])
    for vid, (c0, c1) in codes.items():
        want = float(
            ((q[:2] - books[0][c0]) ** 2).sum() + ((q[2:] - books[1][c1]) ** 2).sum()
        )
        assert got[vid] == pytest.approx(want, abs=1e-6), vid
    # the nearest corpus point under ADC is the one encoded like the query
    assert min(got, key=got.get) == 2


def _old_expression_ivfpq_topk(
    corpus_codes, coarse_centroids, codebooks, queries, dim,
    n_subspaces=4, n_probe=2, k=3,
):
    """The expression plan ivfpq_topk replaced: probe assignment as a
    Spark window over the broadcast centroid cross-join, LUT as a
    Catalyst literal expression — kept here as the equivalence
    reference for the driver-built LUTs."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        _adc_fold,
        _adc_lut,
        _collect_codebooks,
        as_double_array,
        assign_cells_probes,
    )

    cbs = _collect_codebooks(codebooks)
    bounds = _subspace_bounds(dim, n_subspaces)
    probes = assign_cells_probes(
        queries, coarse_centroids, n_probe, id_col="qid", vec_col="embedding"
    ).select(F.col("vec_id").alias("qid"), "cell")
    cent = coarse_centroids.select("cell", as_double_array("centroid").alias("_cent"))
    qv = queries.select(F.col("qid").alias("qid"), as_double_array("embedding").alias("_qv"))
    q_res = F.zip_with(F.col("_qv"), F.col("_cent"), lambda x, y: x - y)
    probe_lut = F.broadcast(
        probes.join(qv, "qid")
        .join(cent, "cell")
        .select("qid", "cell", _adc_lut(q_res, cbs, bounds).alias("_lut"))
    )
    scored = corpus_codes.join(probe_lut, "cell").select(
        "qid",
        "vec_id",
        F.round(_adc_fold(F.col("_lut"), F.col("codes")), 6).alias("adc_dist"),
    )
    w = W.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def test_ivfpq_driver_lut_matches_expression_path(spark):
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    corpus = spark.createDataFrame(
        [
            (i, [float((i * 7) % 13), float((i * 3) % 11),
                 float((i * 5) % 9), float(i % 4)])
            for i in range(80)
        ],
        "vec_id long, embedding array<double>",
    )
    cents, cbs, codes = ivfpq_index(corpus, dim=4, n_cells=3, n_subspaces=2, k_codes=4)
    queries = spark.createDataFrame(
        [(0, [0.3, 1.7, 2.2, 1.1]), (1, [6.0, 5.5, 0.4, 2.9])],
        "qid long, embedding array<double>",
    )
    new = ivfpq_topk(codes, cents, cbs, queries, dim=4, n_subspaces=2, n_probe=2, k=3)
    old = _old_expression_ivfpq_topk(
        codes, cents, cbs, queries, dim=4, n_subspaces=2, n_probe=2, k=3
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
