"""Round-14 regressions: the explicit-decoder-tag requirement and the
integral-id validation on the media fingerprint derivations (r13
advice items)."""

from __future__ import annotations

import pytest


# --- explicit decoder tag --------------------------------------------


def test_decoder_tag_requires_explicit_for_injected(tmp_path):
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationState,
        _decoder_tag,
    )

    assert _decoder_tag(None, None) == "md5-blocked-fake"
    assert _decoder_tag(lambda c, k: [0] * 56, "pillow-v10") == "pillow-v10"
    with pytest.raises(ValueError, match="explicit decoder tag"):
        _decoder_tag(lambda c, k: [0] * 56, None)
    # the state constructor enforces it at build time, before any job
    with pytest.raises(ValueError, match="explicit decoder tag"):
        CurationState(
            f"{tmp_path}/st",
            image_grid_w=7,
            image_decode_fn=lambda c, k: [0] * 56,
        )
    st = CurationState(
        f"{tmp_path}/st2",
        image_grid_w=7,
        image_decode_fn=lambda c, k: [0] * 56,
        image_decoder_tag="pillow-v10",
    )
    assert st.image_decoder_tag == "pillow-v10"


# --- integral-id validation on media fingerprints --------------------


def test_media_sigs_reject_non_integral_ids(spark):
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationConfig,
        _audio_sigs,
        _image_sigs,
        _video_sigs,
    )

    img = spark.createDataFrame(
        [("a1", b"img-bytes")], "doc_id string, image binary"
    )
    with pytest.raises(ValueError, match="BIGINT"):
        _image_sigs(img, "doc_id", "image", 7, 8, None)
    aud = spark.createDataFrame(
        [(1.5, b"clip")], "doc_id double, audio binary"
    )
    with pytest.raises(ValueError, match="BIGINT"):
        _audio_sigs(aud, "doc_id", "audio", 49, None)
    vid = spark.createDataFrame(
        [("v1", b"clip", 2560)], "doc_id string, video binary, video_ms long"
    )
    with pytest.raises(ValueError, match="BIGINT"):
        _video_sigs(vid, "doc_id", CurationConfig(video_min_matching=2))
    # integral ids still flow (no false rejection)
    ok = spark.createDataFrame(
        [(1, b"img-bytes")], "doc_id int, image binary"
    )
    assert _image_sigs(ok, "doc_id", "image", 7, 8, None).count() == 1


# --- state-reading per-modality dup-rate report -----------------------

_T1 = (
    "the quick brown fox jumps over the lazy dog and then it runs far "
    "away to find a place for the long sleep it wanted all day long"
)
_T2 = (
    "a swift russet vulpine leaps across one idle hound before racing "
    "toward distant hills seeking somewhere quiet to rest until morning"
)
_T3 = (
    "call it what you want but the story of the sea is the story of "
    "the men who sailed it for the wind and the tide and the stars"
)
_T4 = (
    "meanwhile the village bakery opened early because the harvest "
    "festival needed seven hundred loaves of dark rye bread by noon"
)


def test_media_dup_rate_report(spark, tmp_path):
    from clickhouse_mysql_data_reader_spark.curation import (
        CurationConfig,
        CurationState,
        curate_increment,
    )

    img_a, img_b = b"image-alpha" * 8, b"image-beta" * 8
    vid_a, vid_b, vid_c = (
        ("clip-one-" + "x" * 200).encode(),
        ("clip-two-" + "y" * 200).encode(),
        ("clip-three-" + "z" * 200).encode(),
    )
    rows = [
        # doc 1 and 2 share the image; doc 1 and 3 share the clip;
        # all audio distinct; doc 4 carries no media at all
        (1, "web", _T1, img_a, b"aud-1" * 20, vid_a, 2560),
        (2, "web", _T2, img_a, b"aud-2" * 20, vid_b, 2560),
        (3, "web", _T3, img_b, b"aud-3" * 20, vid_a, 2560),
        (4, "web", _T4, None, b"aud-4" * 20, None, None),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, source string, text string, image binary, "
        "audio binary, video binary, video_ms long",
    )
    state = CurationState(
        f"{tmp_path}/st",
        image_grid_w=7,
        audio_n_windows=49,
        video_every_ms=1000,
    )
    # near-dup edges for the media modalities are OFF in cfg — the
    # state still lands the fingerprint tables, so planted exact-dup
    # media survives curation and the report must surface it
    kept = curate_increment(
        docs, state, cfg=CurationConfig(near_dup_jaccard=0.9)
    )
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3, 4}
    rep = {
        r["modality"]: r.asDict()
        for r in state.media_dup_rate_report(spark).collect()
    }
    assert set(rep) == {"text", "image", "audio", "video"}
    assert rep["text"]["n_docs"] == 4 and rep["text"]["n_dup_docs"] == 0
    assert rep["image"] == {
        "modality": "image",
        "n_docs": 3,
        "n_distinct_fp": 2,
        "n_dup_docs": 1,
        "dup_rate": 0.333333,
    }
    assert rep["audio"]["n_docs"] == 4 and rep["audio"]["n_dup_docs"] == 0
    assert rep["video"] == {
        "modality": "video",
        "n_docs": 3,
        "n_distinct_fp": 2,
        "n_dup_docs": 1,
        "dup_rate": 0.333333,
    }
    # a state with nothing landed reports an empty frame, same schema
    empty = CurationState(f"{tmp_path}/empty").media_dup_rate_report(spark)
    assert empty.count() == 0
    assert empty.columns == [
        "modality",
        "n_docs",
        "n_distinct_fp",
        "n_dup_docs",
        "dup_rate",
    ]
