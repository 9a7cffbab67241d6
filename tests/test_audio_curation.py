"""Audio (energy-contour) near-dup curation: the FIFTH edge type
``CurationConfig.audio_near_hamming`` enables — the image edge type's
exact mirror (test_image_curation.py) on the audio modality, with a
landed ``audio_fps`` state table driving the cross-history probe.
Pins batch≡increment parity, the geometry+decoder validation guards,
and streaming replay idempotence."""

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

# energy contours under the md5-blocked fake: _AUD_NEAR differs from
# _AUD only in the last 64-char block -> only window 48 moves ->
# Hamming 1; _AUD_FAR sits at 26 (pinned below)
_AUD = ("aud-alpha-" + "x" * 246).encode()
_AUD_NEAR = (
    ("aud-alpha-" + "x" * 246)[:192] + "aud-alpha-tail-v1".ljust(64, "y")
).encode()
_AUD_FAR = ("aud-omega-" + "z" * 246).encode()


def _cfg(**kw):
    base = dict(near_dup_jaccard=0.9, audio_near_hamming=7)
    base.update(kw)
    return CurationConfig(**base)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string, audio binary"
    )


def _astate(tmpdir, name="st", **kw):
    return CurationState(f"{tmpdir}/{name}", audio_n_windows=49, **kw)


def test_planted_audio_distances(spark):
    from clickhouse_mysql_data_reader_spark.curation import _audio_sigs

    df = spark.createDataFrame(
        [(1, _AUD), (2, _AUD_NEAR), (3, _AUD_FAR)], "doc_id long, audio binary"
    )
    sigs = {
        r["doc_id"]: r["ahash"]
        for r in _audio_sigs(df, "doc_id", "audio", 49, None).collect()
    }
    assert bin(sigs[1] ^ sigs[2]).count("1") == 1
    assert bin(sigs[1] ^ sigs[3]).count("1") == 26


@pytest.mark.slow
def test_curate_audio_fifth_edge_type_batch(spark):
    """Two lexically unrelated docs carrying near-dup clips merge via
    the audio edge (min_id keeps doc 1); the far clip and the clipless
    doc survive; the knob off keeps everything."""
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _AUD),
            (2, "web", _T_B, _AUD_NEAR),
            (3, "web", _T_C, _AUD_FAR),
            (4, "web", _T_D, None),
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
    # missing column refuses loudly
    with pytest.raises(ValueError, match="audio"):
        curate(docs.drop("audio"), cfg=_cfg())


@pytest.mark.slow
def test_curate_increment_audio_bootstrap_and_vs_history(spark, tmp_path):
    """Bootstrap parity with batch mode, landed audio_fps covering the
    kept clip-bearing docs, and the cross-batch probe dropping a
    landed clip's near-twin (history wins, landed longs only)."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _AUD), (3, "web", _T_C, _AUD_FAR)])
    b2 = _mk(
        spark,
        [
            (10, "web", _T_B, _AUD_NEAR),  # audio dup of landed doc 1
            (11, "web", _T_D, None),
        ],
    )
    state = _astate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert kept1 == {1, 3}
    assert state.landed(spark, "audio_fps")
    fps = {r["doc_id"] for r in state.audio_fps(spark).select("doc_id").collect()}
    assert fps == {1, 3}
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == {11}, "audio dup of landed doc must drop"


@pytest.mark.slow
def test_curate_increment_audio_state_validation(spark, tmp_path):
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _AUD)])
    b2 = _mk(spark, [(10, "web", _T_B, _AUD_NEAR)])
    with pytest.raises(ValueError, match="audio-enabled"):
        curate_increment(b1, CurationState(f"{tmp_path}/plain"), cfg=cfg)
    bad = CurationState(f"{tmp_path}/bad", audio_n_windows=25)
    with pytest.raises(ValueError, match="geometry"):
        curate_increment(b1, bad, cfg=cfg)
    other_dec = CurationState(
        f"{tmp_path}/dec", audio_n_windows=49, audio_decoder_tag="rms-v1"
    )
    with pytest.raises(ValueError, match="decoder"):
        curate_increment(b1, other_dec, cfg=cfg)

    # legacy state -> backfill required, then the probe fires
    legacy = f"{tmp_path}/legacy"
    plain = CurationState(legacy)
    kept_hist = curate_increment(
        b1, plain, cfg=CurationConfig(near_dup_jaccard=0.9)
    ).localCheckpoint()
    upgraded = CurationState(legacy, audio_n_windows=49)
    with pytest.raises(ValueError, match="backfill_audio_fps"):
        curate_increment(b2, upgraded, cfg=cfg)
    upgraded.backfill_audio_fps(kept_hist)
    kept2 = {r["doc_id"] for r in curate_increment(b2, upgraded, cfg=cfg).collect()}
    assert kept2 == set()


@pytest.mark.slow
def test_curate_stream_audio_replay_idempotent(spark, tmp_path):
    cfg = _cfg()
    state = _astate(tmp_path, "state")
    out = str(tmp_path / "out")
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)
    b1 = _mk(spark, [(1, "web", _T_A, _AUD), (3, "web", _T_C, _AUD_FAR)])
    apply_fn(b1, 0)
    apply_fn(b1, 0)  # full replay
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {1, 3}
    b2 = _mk(spark, [(10, "web", _T_B, _AUD_NEAR), (12, "web", _T_D, None)])
    apply_fn(b2, 1)
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept2 == {12}


@pytest.mark.slow
def test_audio_and_image_edges_compose(spark, tmp_path):
    """Both media edge types on at once: doc 2 is an IMAGE near-dup of
    doc 1 and doc 3 an AUDIO near-dup of doc 2 — one transitive
    component, min_id keeps doc 1; state lands BOTH fingerprint
    tables and the config round-trips through from_config."""
    img = ("img-alpha-" + "x" * 246).encode()
    img_near = (
        ("img-alpha-" + "x" * 246)[:192] + "img-alpha-tail-v1".ljust(64, "y")
    ).encode()
    cfg = _cfg(image_near_hamming=7)
    docs = spark.createDataFrame(
        [
            (1, "web", _T_A, img, None),
            (2, "web", _T_B, img_near, _AUD),
            (3, "web", _T_C, None, _AUD_NEAR),
        ],
        "doc_id long, source string, text string, image binary, audio binary",
    )
    res = curate(docs, cfg=cfg)
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert kept == {1}

    state = CurationState.from_config(cfg, f"{tmp_path}/both")
    inc_kept = {r["doc_id"] for r in curate_increment(docs, state, cfg=cfg).collect()}
    assert inc_kept == {1}
    assert state.landed(spark, "image_fps", "audio_fps")
    img_fps = {r["doc_id"] for r in state.image_fps(spark).collect()}
    aud_fps = {r["doc_id"] for r in state.audio_fps(spark).collect()}
    assert img_fps == {1} and aud_fps == set()  # kept doc 1 has image, no audio
