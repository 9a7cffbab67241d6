"""Multimodal binary-column plumbing: schema, Arrow batching, stub
decode injection, frame-sample explosion."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    deterministic_fake_decoder,
    documents_as_media,
    extract_features,
    frame_sample_plan,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return documents_as_media(docs)


def test_media_schema_and_kinds(media):
    assert dict(media.dtypes)["content"] == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_extract_features_deterministic(media, spark):
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.orderBy("media_id").limit(3).collect()
    # recompute expectations driver-side from the same bytes
    src = media.orderBy("media_id").limit(3).collect()
    for r, s in zip(rows, src):
        assert r["content_sha"] == hashlib.sha256(bytes(s["content"])).hexdigest()
        assert r["n_bytes"] == len(bytes(s["content"]))
        assert r["feature"] == pytest.approx(
            deterministic_fake_decoder(bytes(s["content"]), s["kind"])
        )


def test_extract_features_runs_distributed(media):
    feats = extract_features(media.repartition(4))
    assert feats.count() == media.count()


def test_frame_sample_plan_explosion(media):
    frames = frame_sample_plan(media, every_ms=1000)
    one = (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.col("meta.duration_ms").alias("d"))
        .orderBy("media_id")
        .first()
    )
    n = frames.filter(F.col("media_id") == one["media_id"]).count()
    expected = max((one["d"] - 1), 0) // 1000 + 1
    assert n == expected


def test_resize_plan_geometry_exact(spark):
    from clickhouse_mysql_data_reader_spark.operators.multimodal import resize_plan

    rows = [
        # (id, w, h): inside box / width-limited / height-limited /
        # exact-fit boundary / extreme aspect
        (1, 50, 40), (2, 400, 100), (3, 100, 400), (4, 96, 72), (5, 1000, 10),
    ]
    media = spark.createDataFrame(
        [(i, "image", None, ("m", w, h, 0)) for i, w, h in rows],
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    out = {r["media_id"]: r for r in resize_plan(media, 96, 72).collect()}
    # numpy-free reference: exact integer math
    expect = {}
    for i, w, h in rows:
        if w <= 96 and h <= 72:
            expect[i] = (w, h, False)
        elif w * 72 >= h * 96:
            expect[i] = (96, max(h * 96 // w, 1), True)
        else:
            expect[i] = (max(w * 72 // h, 1), 72, True)
    for i, (tw, th, nr) in expect.items():
        r = out[i]
        assert (r["target_w"], r["target_h"], r["needs_resize"]) == (tw, th, nr)
        # aspect preserved within integer truncation and inside the box
        assert r["target_w"] <= 96 and r["target_h"] <= 72
        assert r["target_w"] >= 1 and r["target_h"] >= 1

    with pytest.raises(ValueError, match="positive"):
        resize_plan(media, 0, 10)


def test_audio_window_plan_clamps_and_overlaps(spark):
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        audio_window_plan,
    )

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(b"x"), ("m", 0, 0, 4500)),  # 5 hops
            (2, "audio", bytearray(b"y"), ("m", 0, 0, 800)),   # shorter than win
            (3, "video", bytearray(b"z"), ("m", 0, 0, 9999)),  # wrong kind
            (4, "audio", bytearray(b"w"), ("m", 0, 0, 0)),     # empty clip
        ],
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    out = audio_window_plan(media, win_ms=2000, hop_ms=1000).collect()
    wins = sorted((r["media_id"], r["start_ms"], r["end_ms"]) for r in out)
    assert wins == [
        (1, 0, 2000), (1, 1000, 3000), (1, 2000, 4000), (1, 3000, 4500),
        (1, 4000, 4500),
        (2, 0, 800),
    ]
    with pytest.raises(ValueError, match="positive"):
        audio_window_plan(media, win_ms=0)


def test_resize_plan_null_geometry_propagates_null(spark):
    from clickhouse_mysql_data_reader_spark.operators.multimodal import resize_plan

    media = spark.createDataFrame(
        [
            (1, "image", None, ("m", None, 50, 0)),
            (2, "image", None, ("m", 50, None, 0)),
            (3, "image", None, ("m", 400, 100, 0)),
        ],
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    out = {r["media_id"]: r for r in resize_plan(media, 96, 72).collect()}
    for i in (1, 2):
        # missing geometry: NULL plan, never a destructive 1x1 target
        assert out[i]["target_w"] is None and out[i]["target_h"] is None
        assert out[i]["needs_resize"] is None
    assert (out[3]["target_w"], out[3]["target_h"]) == (96, 24)


def _pix_df(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )


def test_image_dhash_bit_packing_via_injected_decoder(spark):
    """The decode seam is injectable like extract_features': hand the
    kernel explicit pixel grids and check the exact dHash bits."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        image_dhash,
    )

    # grid 7x8: a strictly increasing row sets all 6 of its comparison
    # bits; a flat row sets none
    grids = {
        1: [c for _ in range(8) for c in range(7)],        # all 48 bits
        2: [0] * 56,                                        # no bits
        3: [c for _ in range(4) for c in range(7)] + [0] * 28,  # rows 0-3
    }

    def decode(content, kind):
        return grids[int(content.decode())]

    df = _pix_df(
        spark,
        [(i, "image", str(i).encode()) for i in grids]
        + [(99, "audio", b"1")],  # non-image rows are filtered out
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in image_dhash(df, decode_fn=decode).collect()
    }
    assert got == {1: (1 << 48) - 1, 2: 0, 3: (1 << 24) - 1}


def test_image_near_dup_banding_catches_local_edit(spark):
    """A one-block pixel perturbation (<= 7 dHash bits) survives the
    pigeonhole banding; an unrelated grid does not pair."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        image_near_dup_pairs,
    )

    base = [(c * 31) % 256 for _ in range(8) for c in range(7)]
    edited = list(base)
    for i in range(49, 56):  # perturb only the last row's pixels
        edited[i] = 255 - edited[i]
    other = [((i * 97) + 13) % 256 for i in range(56)]
    grids = {1: base, 2: edited, 3: other}

    def decode(content, kind):
        return grids[int(content.decode())]

    df = _pix_df(spark, [(i, "image", str(i).encode()) for i in grids])
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            df, hamming_max=7, decode_fn=decode
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 7
    assert all(p == (1, 2) for p in pairs)


def test_image_dhash_default_fake_is_md5_blocked(spark):
    """Default decoder parity with the module fn, and content sharing
    every 64-char block hashes IDENTICALLY (the local-edit contract)."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        deterministic_fake_pixels,
        image_dhash,
    )

    a = ("x" * 256).encode()
    b = ("x" * 256 + "tail beyond the pixel blocks").encode()
    df = _pix_df(spark, [(1, "image", a), (2, "image", b)])
    got = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    # only the first 4 blocks (256 chars) feed the 56 pixels
    assert got[1] == got[2]
    px = deterministic_fake_pixels(a, "image")
    assert len(px) == 56 and all(0 <= p <= 255 for p in px)
    # a decoder returning too few pixels fails loudly, not silently
    with pytest.raises(Exception, match="pixels"):
        image_dhash(df, decode_fn=lambda c, k: [1, 2, 3]).collect()


def test_image_near_dup_sigs_seam_matches_default(spark):
    """sigs= is the landed-fingerprint seam (the cms sketch= idiom):
    feeding image_dhash output through it yields the identical pair
    set, so a production pass can land (media_id, dhash) once and
    never decode twice."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        image_dhash,
        image_near_dup_pairs,
    )

    df = _pix_df(
        spark,
        [(i, "image", ("x" * 200 + f"tail{i % 2}").encode()) for i in range(6)],
    )
    default = image_near_dup_pairs(df, hamming_max=7)
    seam = image_near_dup_pairs(
        df, hamming_max=7, sigs=image_dhash(df)
    )
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, seam.collect())
    )
    # content differing only past the 4 pixel blocks pairs at hamming 0
    assert default.filter(F.col("hamming") == 0).count() > 0
