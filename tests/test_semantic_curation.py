"""Semantic (embedding-cosine) near-dup curation: the THIRD edge type
``CurationConfig.embed_near_cos`` enables — SRP-LSH band candidates +
exact-cosine verify, unioned with the lexical edges in batch mode, and
landed srp_bands/embeddings state tables driving the cross-history
probe in incremental mode. Pins the batch≡increment parity, the
state-validation guards, and streaming replay idempotence the round-9
verdict required before the knob could stop being a no-op."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.curation import (
    CurationConfig,
    CurationState,
    curate,
    curate_increment,
    curation_epoch_apply,
)

# lexically UNRELATED sentences (no shingle overlap at jaccard 0.9) so
# only the semantic edges can merge them; all pass the default gates
_T_A = (
    "the quick brown fox jumps over the lazy dog and then it runs far "
    "away to find a place for the long sleep it wanted all day"
)
_T_B = (
    "a swift russet vulpine leaps across one idle hound before racing "
    "toward distant hills seeking somewhere quiet to rest until morning"
)
_T_C = (
    "call it what you want but the story of the sea is the story of "
    "the men who sailed it for the wind and the tide and the stars"
)
_T_D = (
    "meanwhile the village bakery opened early because the harvest "
    "festival needed seven hundred loaves of dark rye bread by noon"
)
_T_E = (
    "engineers measured the old stone bridge twice before deciding the "
    "arch could carry the new tramway across the river without repairs"
)

# dim-4 embeddings: A and B are IDENTICAL directions (cos 1.0 — a
# paraphrase pair), D sits at cos ~0.95 to them (below the 0.99
# threshold: bands may collide, the exact verify must reject), C/E are
# orthogonal
_V_AB = [1.0, 0.0, 0.0, 0.0]
_V_D = [1.0, 0.33, 0.0, 0.0]  # cos to _V_AB = 0.9533
_V_C = [0.0, 1.0, 0.0, 0.0]
_V_E = [0.0, 0.0, 1.0, 0.0]

_GEO = dict(embed_dim=4, embed_bits=8, embed_srp_bands=4)


def _cfg(**kw):
    base = dict(near_dup_jaccard=0.9, embed_near_cos=0.99, **_GEO)
    base.update(kw)
    return CurationConfig(**base)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, s, t, [float(x) for x in v]) for i, s, t, v in rows],
        "doc_id long, source string, text string, embedding array<double>",
    )


def _estate(tmpdir, name="st", **kw):
    return CurationState(f"{tmpdir}/{name}", **_GEO, **kw)


def test_semantic_edge_set_matches_near_dup_pairs_srp(spark):
    """The pinned equality both docstrings promise: the curation-layer
    edge helper returns exactly near_dup_pairs_srp's pair set under the
    same geometry, on a seeded random corpus with planted near-dups."""
    from clickhouse_mysql_data_reader_spark.curation import _semantic_edge_set
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        near_dup_pairs_srp,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(12, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, list(v)))
        # planted near-dup of every third vector
        if i % 3 == 0:
            rows.append((i * 10 + 1, list(v + rng.normal(scale=0.01, size=8))))
    docs = spark.createDataFrame(
        [(i, "w", f"text {i}", [float(x) for x in v]) for i, v in rows],
        "doc_id long, source string, text string, embedding array<double>",
    )
    cfg = CurationConfig(
        embed_near_cos=0.9, embed_dim=8, embed_bits=16, embed_srp_bands=4
    )
    mine = {
        (r["doc_a"], r["doc_b"])
        for r in _semantic_edge_set(docs, cfg, "doc_id").collect()
    }
    ref = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_pairs_srp(
            docs, 0.9, 8, n_bits=16, n_bands=4, id_col="doc_id",
            vec_col="embedding", seed="srp",
        ).collect()
    }
    assert mine == ref and len(mine) >= 4


@pytest.mark.slow
def test_curate_semantic_third_edge_type_batch(spark):
    """Batch mode: a paraphrase pair (zero shingle overlap, identical
    embedding) merges via the semantic edge and min_id keeps doc 1; the
    cos-0.95 neighbor and the orthogonal docs survive. Control: same
    corpus without the knob keeps everything."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _V_AB),
            (2, "web", _T_B, _V_AB),  # paraphrase of 1 (semantic only)
            (3, "web", _T_C, _V_C),
            (4, "web", _T_D, _V_D),  # cos 0.95 < 0.99: verify must reject
        ],
    )
    res = curate(docs, cfg=_cfg())
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert kept == {1, 3, 4}

    res_off = curate(docs, cfg=CurationConfig(near_dup_jaccard=0.9))
    kept_off = {r["doc_id"] for r in res_off.after_near_dedup.collect()}
    res_off.unpersist()
    assert kept_off == {1, 2, 3, 4}


def test_curate_semantic_requires_embedding_column(spark):
    docs = spark.createDataFrame(
        [(1, "web", _T_A)], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="embedding"):
        curate(docs, cfg=_cfg())


@pytest.mark.slow
def test_curate_increment_semantic_bootstrap_parity_and_state(spark, tmp_path):
    """Bootstrap (history-free embed-enabled state): kept set equals
    batch curate() under the identical cfg, and the state landed
    srp_bands + embeddings rows for exactly the kept docs with the
    geometry manifest pinned."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _V_AB),
            (2, "web", _T_B, _V_AB),
            (3, "web", _T_C, _V_C),
            (4, "web", _T_D, _V_D),
        ],
    )
    cfg = _cfg()
    res = curate(docs, cfg=cfg)
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()

    state = _estate(tmp_path)
    inc_kept = {r["doc_id"] for r in curate_increment(docs, state, cfg=cfg).collect()}
    assert inc_kept == batch_kept == {1, 3, 4}

    assert state.landed(spark, "embeddings", "srp_bands")
    emb_docs = {r["doc_id"] for r in state.embeddings(spark).select("doc_id").collect()}
    srp_docs = {
        r["doc_id"] for r in state.srp_bands(spark).select("doc_id").distinct().collect()
    }
    assert emb_docs == srp_docs == {1, 3, 4}
    # each landed doc occupies exactly n_bands buckets
    per_doc = (
        state.srp_bands(spark).groupBy("doc_id").count().collect()
    )
    assert {r["count"] for r in per_doc} == {4}


@pytest.mark.slow
def test_curate_increment_semantic_vs_history(spark, tmp_path):
    """Cross-BATCH paraphrase: batch 1 lands doc 1; batch 2 carries a
    lexically fresh doc with the SAME embedding — the landed-band
    bucket-join + exact-cosine verify drops it (history wins), while a
    below-threshold neighbor and a fresh doc survive. Control with the
    knob off keeps the paraphrase."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _V_AB), (3, "web", _T_C, _V_C)])
    b2 = _mk(
        spark,
        [
            (10, "web", _T_B, _V_AB),  # semantic dup of landed doc 1
            (11, "web", _T_D, _V_D),   # cos 0.95: must survive the verify
            (12, "web", _T_E, _V_E),   # fresh
        ],
    )
    state = _estate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert kept1 == {1, 3}
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == {11, 12}, "semantic dup of landed doc must drop"
    # the kept batch-2 docs landed their embed rows too
    emb_docs = {r["doc_id"] for r in state.embeddings(spark).select("doc_id").collect()}
    assert emb_docs == {1, 3, 11, 12}

    # control: knob off -> the paraphrase survives (and no embed state
    # is needed on a plain state)
    state_off = CurationState(f"{tmp_path}/off")
    cfg_off = CurationConfig(near_dup_jaccard=0.9)
    curate_increment(b1.drop("embedding"), state_off, cfg=cfg_off)
    kept2_off = {
        r["doc_id"]
        for r in curate_increment(b2.drop("embedding"), state_off, cfg=cfg_off).collect()
    }
    assert kept2_off == {10, 11, 12}


@pytest.mark.slow
def test_curate_increment_semantic_state_validation(spark, tmp_path):
    """The guard rails: cfg with embed_near_cos needs an embed-enabled
    state with the SAME geometry; an embed-enabled handle over a legacy
    (embed-less) landed state demands backfill_embeddings, which then
    makes the cross-history probe work; the geometry manifest rejects a
    mismatched reconstruction."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _V_AB)])
    b2 = _mk(spark, [(10, "web", _T_B, _V_AB)])

    # plain state: not embed-enabled
    with pytest.raises(ValueError, match="embed-enabled"):
        curate_increment(b1, CurationState(f"{tmp_path}/plain"), cfg=cfg)
    # geometry mismatch (bits differ)
    bad = CurationState(
        f"{tmp_path}/bad", embed_dim=4, embed_bits=16, embed_srp_bands=4
    )
    with pytest.raises(ValueError, match="geometry"):
        curate_increment(b1, bad, cfg=cfg)
    # batch lacking the vector column
    good = _estate(tmp_path, "g")
    with pytest.raises(ValueError, match="embedding"):
        curate_increment(b1.drop("embedding"), good, cfg=cfg)

    # legacy state: batches landed WITHOUT embed support
    legacy_dir = f"{tmp_path}/legacy"
    plain = CurationState(legacy_dir)
    kept_hist = curate_increment(
        b1, plain, cfg=CurationConfig(near_dup_jaccard=0.9)
    )
    kept_hist = kept_hist.localCheckpoint()
    upgraded = CurationState(legacy_dir, **_GEO)
    with pytest.raises(ValueError, match="backfill_embeddings"):
        curate_increment(b2, upgraded, cfg=cfg)
    # backfill from the historical kept corpus, then the probe works
    upgraded.backfill_embeddings(kept_hist)
    kept2 = {r["doc_id"] for r in curate_increment(b2, upgraded, cfg=cfg).collect()}
    assert kept2 == set()
    # a handle reconstructed with a different geometry is rejected by
    # the on-disk manifest at the next write
    drift = CurationState(
        legacy_dir, embed_dim=4, embed_bits=16, embed_srp_bands=4
    )
    with pytest.raises(ValueError, match="geometry|derived with"):
        curate_increment(
            _mk(spark, [(20, "web", _T_E, _V_E)]),
            drift,
            cfg=_cfg(embed_bits=16),
        )


@pytest.mark.slow
def test_curate_stream_semantic_replay_idempotent(spark, tmp_path):
    """The at-least-once contract with the semantic edge on: a replayed
    epoch reproduces the SAME survivors (its own srp_bands/embeddings
    appends are epoch-excluded, so the batch is not a semantic dup of
    itself), and a later epoch still drops cross-history semantic dups
    despite the duplicate state rows."""
    cfg = _cfg()
    state = _estate(tmp_path, "state")
    out = str(tmp_path / "out")
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)

    b1 = _mk(spark, [(1, "web", _T_A, _V_AB), (3, "web", _T_C, _V_C)])
    apply_fn(b1, 0)
    first = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert first == {1, 3}
    # full replay of epoch 0 (crash after state append, before commit)
    apply_fn(b1, 0)
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {1, 3}, "replayed epoch erased its own survivors"

    b2 = _mk(
        spark,
        [(10, "web", _T_B, _V_AB), (12, "web", _T_E, _V_E)],
    )
    apply_fn(b2, 1)
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept2 == {12}


@pytest.mark.slow
def test_semantic_state_compaction_and_growth_report(spark, tmp_path):
    """srp_bands/embeddings ride the maintenance lifecycle like every
    other state table: compact() rewrites them (tags preserved), the
    cross-history probe still fires afterwards, and growth_report
    tracks their rows/docs/segments."""
    cfg = _cfg()
    state = _estate(tmp_path)
    curate_increment(
        _mk(spark, [(1, "web", _T_A, _V_AB), (3, "web", _T_C, _V_C)]),
        state, cfg=cfg, epoch_id=0,
    )
    report = state.compact(spark)
    assert {"srp_bands", "embeddings"} <= set(report)
    # post-compact the landed vectors still drive the semantic drop
    kept2 = {
        r["doc_id"]
        for r in curate_increment(
            _mk(spark, [(10, "web", _T_B, _V_AB), (12, "web", _T_E, _V_E)]),
            state, cfg=cfg, epoch_id=1,
        ).collect()
    }
    assert kept2 == {12}
    g = state.growth_report(spark)
    assert g["embeddings"]["docs"] == 3  # kept docs 1, 3, 12
    assert g["srp_bands"]["rows"] == 3 * 4  # n_bands buckets per doc
    assert g["embeddings"]["segments"] == 2  # one append per epoch


@pytest.mark.slow
def test_semantic_two_batch_parity_min_id(spark, tmp_path):
    """Batch-over-concatenation equals bootstrap+increment when ids
    arrive in batch order under min_id: the cross-batch semantic pair
    resolves to the batch-1 member either way (min_id in batch mode,
    history-wins in increments)."""
    rows1 = [(1, "web", _T_A, _V_AB), (3, "web", _T_C, _V_C)]
    rows2 = [(10, "web", _T_B, _V_AB), (12, "web", _T_E, _V_E)]
    cfg = _cfg()

    res = curate(_mk(spark, rows1 + rows2), cfg=cfg)
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()

    state = _estate(tmp_path)
    k1 = {r["doc_id"] for r in curate_increment(_mk(spark, rows1), state, cfg=cfg).collect()}
    k2 = {r["doc_id"] for r in curate_increment(_mk(spark, rows2), state, cfg=cfg).collect()}
    assert k1 | k2 == batch_kept == {1, 3, 12}


@pytest.mark.slow
def test_backfill_embeddings_commits_both_tables_at_once(spark, tmp_path, monkeypatch):
    """The backfill lands embeddings AND srp_bands in one commit: a
    crash after the first table's files leaves neither visible, and the
    retry lands both, after which the probe drops a semantic dup."""
    from pyspark.sql.readwriter import DataFrameWriter

    legacy_dir = f"{tmp_path}/legacy"
    plain = CurationState(legacy_dir)
    hist = _mk(spark, [(1, "web", _T_A, _V_AB), (2, "books", _T_C, _V_C)])
    curate_increment(hist.drop("embedding"), plain,
                     cfg=CurationConfig(near_dup_jaccard=0.9))

    upgraded = CurationState(legacy_dir, **_GEO)
    real = DataFrameWriter.parquet

    def crash(self, *a, **kw):
        real(self, *a, **kw)
        raise RuntimeError("crash after the embeddings table")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(RuntimeError, match="crash after"):
            upgraded.backfill_embeddings(hist)
    assert not upgraded.landed(spark, "embeddings")
    assert not upgraded.landed(spark, "srp_bands")

    CurationState(legacy_dir, **_GEO).backfill_embeddings(hist)
    assert upgraded.landed(spark, "embeddings", "srp_bands")
    assert {r["doc_id"] for r in upgraded.embeddings(spark).collect()} == {1, 2}
    kept = {
        r["doc_id"]
        for r in curate_increment(
            _mk(spark, [(10, "web", _T_B, _V_AB)]), upgraded, cfg=_cfg()
        ).collect()
    }
    assert kept == set(), "semantic dup of the backfilled doc must drop"
