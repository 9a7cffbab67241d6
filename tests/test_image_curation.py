"""Image (dHash perceptual-hash) near-dup curation: the FOURTH edge
type ``CurationConfig.image_near_hamming`` enables — Manku pigeonhole
band candidates + exact Hamming verify over the injectable decode
seam, unioned with the lexical/semantic edges in batch mode, and a
landed ``image_fps`` state table driving the cross-history probe in
incremental mode. Pins the batch≡increment parity, the state
validation guards (geometry AND decoder identity), and streaming
replay idempotence — the test_semantic_curation.py contract on the
image modality (round-12 verdict item #2)."""

from __future__ import annotations

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
# only the image edges can merge them; all pass the default gates
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

# Deterministic 'images' under the md5-blocked fake decoder: the fake
# hashes each 64-char block independently, so _IMG_NEAR (same bytes
# except the LAST block) lands at dHash Hamming 3 from _IMG — a
# re-encode-style near-dup within the budget of 7 — while _IMG_FAR
# (different everywhere) sits at Hamming 22, beyond any banding
# collision's verify. Distances pinned by
# test_planted_image_distances below, so a fake-decoder change cannot
# silently invalidate the scenario.
_IMG = ("img-alpha-" + "x" * 246).encode()
_IMG_NEAR = (
    ("img-alpha-" + "x" * 246)[:192] + "img-alpha-tail-v1".ljust(64, "y")
).encode()
_IMG_FAR = ("img-omega-" + "z" * 246).encode()

_HAM = 7


def _cfg(**kw):
    base = dict(near_dup_jaccard=0.9, image_near_hamming=_HAM)
    base.update(kw)
    return CurationConfig(**base)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, s, t, img) for i, s, t, img in rows],
        "doc_id long, source string, text string, image binary",
    )


def _istate(tmpdir, name="st", **kw):
    return CurationState(f"{tmpdir}/{name}", image_grid_w=7, **kw)


def test_planted_image_distances(spark):
    """The scenario's ground truth: near pair within the budget, far
    pair beyond it — computed through the REAL operator so a decoder
    or dhash change re-derives (and fails) here first."""
    from clickhouse_mysql_data_reader_spark.curation import _image_sigs

    df = spark.createDataFrame(
        [(1, _IMG), (2, _IMG_NEAR), (3, _IMG_FAR)], "doc_id long, image binary"
    )
    sigs = {
        r["doc_id"]: r["dhash"]
        for r in _image_sigs(df, "doc_id", "image", 7, 8, None).collect()
    }
    assert bin(sigs[1] ^ sigs[2]).count("1") == 3
    assert bin(sigs[1] ^ sigs[3]).count("1") == 22


def test_curate_image_fourth_edge_type_batch(spark):
    """Batch mode: two lexically unrelated docs carrying near-dup
    images merge via the image edge (min_id keeps doc 1); the far
    image, the imageless doc, and an unrelated image survive. Control:
    same corpus without the knob keeps everything."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _IMG),
            (2, "web", _T_B, _IMG_NEAR),  # image near-dup of 1 (text unrelated)
            (3, "web", _T_C, _IMG_FAR),   # hamming 22: beyond the budget
            (4, "web", _T_D, None),       # imageless: no image edge possible
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


def test_curate_image_null_images_never_merge(spark):
    """Two imageless docs must NOT pair as 'identical images' — the
    NULL filter in _image_sigs is load-bearing (the fake decoder would
    hash every NULL to the same fingerprint)."""
    docs = _mk(
        spark,
        [(1, "web", _T_A, None), (2, "web", _T_B, None)],
    )
    res = curate(docs, cfg=_cfg())
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert kept == {1, 2}


def test_curate_image_requires_column(spark):
    docs = spark.createDataFrame(
        [(1, "web", _T_A)], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="image"):
        curate(docs, cfg=_cfg())


def test_image_config_validates_geometry(spark):
    with pytest.raises(ValueError, match="pigeonhole"):
        CurationConfig(image_near_hamming=4)  # 48 % 5 != 0
    with pytest.raises(ValueError, match=">= 0"):
        CurationConfig(image_near_hamming=-1)


def test_curate_increment_image_bootstrap_parity_and_state(spark, tmp_path):
    """Bootstrap (history-free image-enabled state): kept set equals
    batch curate() under the identical cfg, and the state landed
    image_fps rows for exactly the kept image-bearing docs with the
    geometry+decoder manifest pinned."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _IMG),
            (2, "web", _T_B, _IMG_NEAR),
            (3, "web", _T_C, _IMG_FAR),
            (4, "web", _T_D, None),
        ],
    )
    cfg = _cfg()
    res = curate(docs, cfg=cfg)
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()

    state = _istate(tmp_path)
    inc_kept = {r["doc_id"] for r in curate_increment(docs, state, cfg=cfg).collect()}
    assert inc_kept == batch_kept == {1, 3, 4}

    assert state.landed(spark, "image_fps")
    fps_docs = {
        r["doc_id"] for r in state.image_fps(spark).select("doc_id").collect()
    }
    assert fps_docs == {1, 3}  # kept AND image-bearing (4 has no image)


@pytest.mark.slow
def test_curate_increment_image_vs_history(spark, tmp_path):
    """Cross-BATCH image near-dup: batch 1 lands doc 1's fingerprint;
    batch 2 carries a lexically fresh doc with a near-dup image — the
    chunk bucket-join + Hamming verify against the LANDED LONGS drops
    it (history wins, no media bytes re-read), while a far image and an
    imageless doc survive. Control with the knob off keeps it."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _IMG), (3, "web", _T_C, _IMG_FAR)])
    b2 = _mk(
        spark,
        [
            (10, "web", _T_B, _IMG_NEAR),  # image dup of landed doc 1
            (11, "web", _T_D, None),       # imageless
            (12, "web", _T_E, ("img-delta-" + "q" * 246).encode()),  # fresh
        ],
    )
    state = _istate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert kept1 == {1, 3}
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == {11, 12}, "image dup of landed doc must drop"
    fps_docs = {
        r["doc_id"] for r in state.image_fps(spark).select("doc_id").collect()
    }
    assert fps_docs == {1, 3, 12}

    # control: knob off -> the image twin survives on a plain state
    state_off = CurationState(f"{tmp_path}/off")
    cfg_off = CurationConfig(near_dup_jaccard=0.9)
    curate_increment(b1.drop("image"), state_off, cfg=cfg_off)
    kept2_off = {
        r["doc_id"]
        for r in curate_increment(b2.drop("image"), state_off, cfg=cfg_off).collect()
    }
    assert kept2_off == {10, 11, 12}


def test_curate_increment_image_state_validation(spark, tmp_path):
    """Guard rails: cfg with image_near_hamming needs an image-enabled
    state with the same grid AND decoder tag; an image-enabled handle
    over a legacy landed state demands backfill_image_fps, which then
    makes the cross-history probe fire; a mismatched reconstruction is
    rejected by the on-disk manifest."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _IMG)])
    b2 = _mk(spark, [(10, "web", _T_B, _IMG_NEAR)])

    with pytest.raises(ValueError, match="image-enabled"):
        curate_increment(b1, CurationState(f"{tmp_path}/plain"), cfg=cfg)
    bad = CurationState(f"{tmp_path}/bad", image_grid_w=9, image_grid_h=8)
    with pytest.raises(ValueError, match="geometry"):
        curate_increment(b1, bad, cfg=cfg)
    # decoder identity mismatch is a geometry mismatch too
    other_decoder = CurationState(
        f"{tmp_path}/dec", image_grid_w=7, image_decoder_tag="pillow-v1"
    )
    with pytest.raises(ValueError, match="decoder"):
        curate_increment(b1, other_decoder, cfg=cfg)
    good = _istate(tmp_path, "g")
    with pytest.raises(ValueError, match="image"):
        curate_increment(b1.drop("image"), good, cfg=cfg)

    # legacy state: batches landed WITHOUT image support
    legacy_dir = f"{tmp_path}/legacy"
    plain = CurationState(legacy_dir)
    kept_hist = curate_increment(
        b1, plain, cfg=CurationConfig(near_dup_jaccard=0.9)
    ).localCheckpoint()
    upgraded = CurationState(legacy_dir, image_grid_w=7)
    with pytest.raises(ValueError, match="backfill_image_fps"):
        curate_increment(b2, upgraded, cfg=cfg)
    upgraded.backfill_image_fps(kept_hist)
    kept2 = {r["doc_id"] for r in curate_increment(b2, upgraded, cfg=cfg).collect()}
    assert kept2 == set()
    # a handle reconstructed with a different grid is rejected by the
    # on-disk manifest at the next write
    drift = CurationState(legacy_dir, image_grid_w=9, image_grid_h=8)
    with pytest.raises(ValueError, match="derived with|geometry"):
        curate_increment(
            _mk(spark, [(20, "web", _T_E, _IMG_FAR)]),
            drift,
            cfg=_cfg(image_grid_w=9, image_near_hamming=7),
        )


@pytest.mark.slow
def test_curate_stream_image_replay_idempotent(spark, tmp_path):
    """The at-least-once contract with the image edge on: a replayed
    epoch reproduces the SAME survivors (its own image_fps append is
    epoch-excluded, so the batch is not an image dup of itself), and a
    later epoch still drops cross-history image dups despite the
    duplicate state rows."""
    cfg = _cfg()
    state = _istate(tmp_path, "state")
    out = str(tmp_path / "out")
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)

    b1 = _mk(spark, [(1, "web", _T_A, _IMG), (3, "web", _T_C, _IMG_FAR)])
    apply_fn(b1, 0)
    first = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert first == {1, 3}
    apply_fn(b1, 0)  # full replay of epoch 0
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {1, 3}, "replayed epoch erased its own survivors"

    b2 = _mk(
        spark,
        [(10, "web", _T_B, _IMG_NEAR), (12, "web", _T_E, None)],
    )
    apply_fn(b2, 1)
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept2 == {12}


@pytest.mark.slow
def test_image_two_batch_parity_min_id(spark, tmp_path):
    """Batch-over-concatenation equals bootstrap+increment when ids
    arrive in batch order under min_id: the cross-batch image pair
    resolves to the batch-1 member either way (min_id in batch mode,
    history-wins in increments)."""
    rows1 = [(1, "web", _T_A, _IMG), (3, "web", _T_C, _IMG_FAR)]
    rows2 = [(10, "web", _T_B, _IMG_NEAR), (12, "web", _T_E, None)]
    cfg = _cfg()

    res = curate(_mk(spark, rows1 + rows2), cfg=cfg)
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()

    state = _istate(tmp_path)
    k1 = {r["doc_id"] for r in curate_increment(_mk(spark, rows1), state, cfg=cfg).collect()}
    k2 = {r["doc_id"] for r in curate_increment(_mk(spark, rows2), state, cfg=cfg).collect()}
    assert k1 | k2 == batch_kept == {1, 3, 12}


@pytest.mark.slow
def test_image_state_compaction_and_growth_report(spark, tmp_path):
    """image_fps rides the maintenance lifecycle like every other state
    table: compact() rewrites it (tags preserved), the cross-history
    probe still fires afterwards, and growth_report tracks it."""
    cfg = _cfg()
    state = _istate(tmp_path)
    curate_increment(
        _mk(spark, [(1, "web", _T_A, _IMG), (3, "web", _T_C, _IMG_FAR)]),
        state, cfg=cfg, epoch_id=0,
    )
    report = state.compact(spark)
    assert "image_fps" in report
    kept2 = {
        r["doc_id"]
        for r in curate_increment(
            _mk(spark, [(10, "web", _T_B, _IMG_NEAR), (12, "web", _T_E, None)]),
            state, cfg=cfg, epoch_id=1,
        ).collect()
    }
    assert kept2 == {12}
    g = state.growth_report(spark)
    assert g["image_fps"]["docs"] == 2  # image-bearing kept docs 1, 3


def test_image_edges_union_with_lexical_in_one_component(spark):
    """Cross-modality transitive closure: doc 2 is a TEXT near-dup of
    doc 1 and an IMAGE near-dup of doc 3 — all three merge into one
    component and min_id keeps only doc 1 (the SemDeDup union
    semantics across edge types)."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, None),
            (2, "web", _T_A + " extra", _IMG),  # text-dup of 1, image of 3
            (3, "web", _T_C, _IMG_NEAR),
        ],
    )
    res = curate(docs, cfg=_cfg(near_dup_jaccard=0.5))
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert kept == {1}
