"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side contract is fully real — schema, partitioning, batch
shapes, UDF signatures — while the media decode itself is stubbed
(image/audio libraries are not in this container): ``decode_fn`` is
injectable; the default ``deterministic_fake_decoder`` derives features
from the bytes' md5 so tests are reproducible, and a real deployment
injects Pillow/torchaudio/ffmpeg without touching the pipeline.

Scale notes: media bytes are the widest column by far — the pipeline
(a) never shuffles the binary column (feature extraction happens
before any groupBy/join), (b) processes it in bounded Arrow batches
(`spark.sql.execution.arrow.maxRecordsPerBatch` controls peak memory),
and (c) drops it as early as possible via select().
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content_sha", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def deterministic_fake_decoder(content: bytes, kind: str) -> list[float]:
    """Stand-in decoder: 8 floats derived from the content digest.
    Deterministic, so the distributed plumbing is testable end-to-end."""
    digest = hashlib.md5(content or b"").digest()
    return [b / 255.0 for b in digest[:8]]


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], list[float]] = deterministic_fake_decoder,
    batch_size_hint: int = 256,
) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas`` (not a scalar UDF) so one python worker call sees a
    whole Arrow batch: decode libraries amortize setup per batch, and
    output rows may be filtered (undecodable media dropped) — a shape
    scalar UDFs can't express.
    """

    # Ship this module's functions BY VALUE inside the pickled UDF:
    # the driver may run from any cwd without the repo on the workers'
    # PYTHONPATH, and a by-reference pickle of decode_fn would make
    # every python worker try (and fail) to import the package.
    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])

    # content hash + size are JVM expressions (codegen, no Python): the
    # bytes already cross into Arrow once for the decode, but hashing
    # them doesn't need Python at all. The computed columns ride the
    # Arrow batch through the UDF untouched.
    media = media.withColumn(
        "content_sha", F.sha2(F.coalesce(F.col("content"), F.lit(b"")), 256)
    ).withColumn("n_bytes", F.coalesce(F.length("content"), F.lit(0)).cast("long"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "content_sha": pdf["content_sha"],
                "n_bytes": pdf["n_bytes"],
                "feature": [
                    decode_fn(c, k) for c, k in zip(pdf["content"], pdf["kind"])
                ],
            }
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def deterministic_fake_pixels(
    content: bytes, kind: str, n_pixels: int = 56
) -> list[int]:
    """Stand-in thumbnail: grayscale pixels derived from BLOCKED md5 of
    the content — pixel block j (16 px) hashes only the j-th 64-char
    slice, so a LOCAL content edit perturbs only local pixel blocks
    while the rest of the 'image' is unchanged. That is the miniature
    of real perceptual behavior (a cropped/re-captioned image shares
    most of its thumbnail), which is what makes banded dHash near-dup
    exercisable — and md5 is replayable in SQL, so the whole pipeline
    is oracle-checkable like ``deterministic_fake_decoder``."""
    s = (content or b"").decode("utf-8", "replace")
    px: list[int] = []
    j = 0
    while len(px) < n_pixels:
        seg = s[j * 64 : (j + 1) * 64]
        px.extend(hashlib.md5(f"{seg}:{j}".encode()).digest())
        j += 1
    return px[:n_pixels]


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def image_dhash(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], list[int]] | None = None,
    grid_w: int = 7,
    grid_h: int = 8,
) -> DataFrame:
    """dHash perceptual fingerprint (difference hash) over the image
    rows: decode to a tiny ``grid_w x grid_h`` grayscale thumbnail
    (the injectable seam — Pillow in production, the deterministic
    md5-blocked fake here), then bit (r, c) = 1 iff pixel (r, c) is
    darker than its right neighbor — ``grid_h * (grid_w - 1)`` bits
    packed into one BIGINT (48 bits at the default geometry, so the
    fingerprint and every chunk stay positive in a signed long on
    both engines).

    The image analogue of ``simhash`` for the text side: robust to
    the global transforms that break byte-exact dedup (re-encode,
    resize, metadata strip — none of which move the thumbnail
    gradient), and Hamming-close fingerprints are near-duplicate
    images. Runs in Arrow-batched ``mapInPandas`` like
    ``extract_features`` — the binary column never crosses a shuffle;
    only the (media_id, dhash) longs do.
    """
    n_px = grid_w * grid_h
    fake = decode_fn is None

    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, c, k in zip(pdf["media_id"], pdf["content"], pdf["kind"]):
                px = (
                    deterministic_fake_pixels(c, k, n_px)
                    if fake
                    else decode_fn(c, k)
                )
                # exact-length check: a decoder returning MORE pixels
                # (a grid-geometry mismatch, e.g. an 8x8 thumbnail fed
                # to the 7x8 default) would otherwise be silently
                # truncated into plausible-but-wrong fingerprints
                if len(px) != n_px:
                    raise ValueError(
                        f"decode_fn returned {len(px)} pixels; "
                        f"image_dhash needs exactly grid_w*grid_h = {n_px}"
                    )
                fp = 0
                for r in range(grid_h):
                    base = r * grid_w
                    for c_ in range(grid_w - 1):
                        if px[base + c_] < px[base + c_ + 1]:
                            fp |= 1 << (r * (grid_w - 1) + c_)
                ids.append(mid)
                fps.append(fp)
            yield pd.DataFrame({"media_id": ids, "dhash": fps})

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=DHASH_SCHEMA
    )


def image_near_dup_pairs(
    media: DataFrame,
    hamming_max: int = 7,
    decode_fn: Callable[[bytes, str], list[int]] | None = None,
    grid_w: int = 7,
    grid_h: int = 8,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Perceptual-hash image near-duplicate pairs: dHash fingerprints
    + the Manku pigeonhole banding the text side already uses
    (``dedup.simhash_near_pairs`` — split the fingerprint into
    ``hamming_max + 1`` chunks; any pair within the Hamming budget
    agrees exactly on one chunk), so candidate generation is an
    equi-join on narrow (chunk_i, chunk_val) keys — NEVER all-pairs.

    Everything after the decode is (id, chunk, fingerprint) longs —
    the identical scale shape as text simhash/SRP banding.

    Evaluation count: the banding self-join consumes the fingerprint
    frame on BOTH sides, and Spark plans a lazy ``image_dhash``
    subtree per side — the decode runs TWICE (the mmr_rerank
    candidate-subtree reasoning; no release point exists in an
    operator returning a lazy frame). Fine for the deterministic
    fake; a production pass with a REAL decoder should LAND the tiny
    (media_id, dhash) table once and feed it through ``sigs=`` — the
    media bytes are then never re-read and the decode never re-runs
    (the same seam discipline as ``cms_heavy_hitters(sketch=)``).
    The curation pipeline does exactly this: batch ``curate`` persists
    the fingerprint frame across the self-join's two sides, and
    ``curate_increment`` checkpoints it once per batch and lands it in
    CurationState's ``image_fps`` table, so history probes touch only
    the landed longs (curation.py ``image_near_hamming``).
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    bits = grid_h * (grid_w - 1)
    if sigs is None:
        sigs = image_dhash(
            media, decode_fn=decode_fn, grid_w=grid_w, grid_h=grid_h
        )
    return simhash_near_pairs(
        sigs,
        bits=bits,
        hamming_max=hamming_max,
        id_col="media_id",
        sig_col="dhash",
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), False),
    ]
)


def audio_energy_hash(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], list[int]] | None = None,
    n_windows: int = 49,
) -> DataFrame:
    """Energy-contour fingerprint over the audio rows — the audio
    analogue of ``image_dhash``: decode each clip to ``n_windows``
    per-window energies (the injectable seam — a windowed RMS over
    torchaudio in production, the deterministic md5-BLOCKED fake here:
    window j's 'energy' hashes only the j-th content slice, so a local
    edit perturbs only local windows, the miniature of a re-encoded
    clip sharing most of its energy contour), then bit i = 1 iff
    window i is quieter than window i+1 — ``n_windows - 1`` difference
    bits packed into one BIGINT (48 bits at the default, positive in a
    signed long on both engines).

    Robust to the global transforms that break byte-exact dedup
    (re-encode, bitrate change, container swap — none of which move
    the energy CONTOUR), and Hamming-close fingerprints are
    near-duplicate clips. Runs in Arrow-batched ``mapInPandas`` like
    ``image_dhash`` — the binary column never crosses a shuffle; only
    the (media_id, ahash) longs do.
    """
    fake = decode_fn is None

    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, c, k in zip(pdf["media_id"], pdf["content"], pdf["kind"]):
                e = (
                    deterministic_fake_pixels(c, k, n_windows)
                    if fake
                    else decode_fn(c, k)
                )
                # exact-length check (the image_dhash rule): an
                # extractor returning a different window count would
                # silently produce plausible-but-wrong fingerprints
                if len(e) != n_windows:
                    raise ValueError(
                        f"decode_fn returned {len(e)} windows; "
                        f"audio_energy_hash needs exactly {n_windows}"
                    )
                fp = 0
                for i in range(n_windows - 1):
                    if e[i] < e[i + 1]:
                        fp |= 1 << i
                ids.append(mid)
                fps.append(fp)
            yield pd.DataFrame({"media_id": ids, "ahash": fps})

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AHASH_SCHEMA
    )


def audio_near_dup_pairs(
    media: DataFrame,
    hamming_max: int = 7,
    decode_fn: Callable[[bytes, str], list[int]] | None = None,
    n_windows: int = 49,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Energy-contour audio near-duplicate pairs: ``audio_energy_hash``
    fingerprints + the Manku pigeonhole banding shared with the text
    (simhash) and image (dHash) modalities — candidate generation is an
    equi-join on narrow (chunk_i, chunk_val) keys, NEVER all-pairs,
    and the exact Hamming verify is one bit_count over the joined
    longs.

    Same evaluation-count caveat as ``image_near_dup_pairs``: the
    banding self-join plans a lazy decode subtree per side — land the
    tiny (media_id, ahash) table once and feed it through ``sigs=`` on
    a real-decoder deployment. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b.
    """
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    if sigs is None:
        sigs = audio_energy_hash(media, decode_fn=decode_fn, n_windows=n_windows)
    return simhash_near_pairs(
        sigs,
        bits=n_windows - 1,
        hamming_max=hamming_max,
        id_col="media_id",
        sig_col="ahash",
    )


def deterministic_fake_frame_pixels(
    content: bytes, frame_i: int, n_pixels: int = 56
) -> list[int]:
    """Stand-in frame thumbnail: frame i's pixels hash only the i-th
    64-char content slice (sampled frames always land inside the text
    at the default 1 frame/sec over a 10ms-per-char duration), so two
    videos sharing most of their content share most of their frame
    thumbnails — the miniature of real re-encoded-clip behavior, and
    md5 is replayable in SQL so the whole pipeline is
    oracle-checkable."""
    s = (content or b"").decode("utf-8", "replace")
    seg = s[frame_i * 64 : (frame_i + 1) * 64]
    px: list[int] = []
    k = 0
    while len(px) < n_pixels:
        px.extend(hashlib.md5(f"{seg}:{frame_i}:{k}".encode()).digest())
        k += 1
    return px[:n_pixels]


FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_i", T.IntegerType(), False),
        T.StructField("fhash", T.LongType(), False),
    ]
)


def video_frame_hashes(
    media: DataFrame,
    every_ms: int = 1000,
    decode_fn: Callable[[bytes, int], list[list[int]]] | None = None,
    grid_w: int = 7,
    grid_h: int = 8,
) -> DataFrame:
    """Per-sampled-frame dHash fingerprints for the video rows — the
    decode primitive of the video near-dup member: one frame every
    ``every_ms`` of the clip's duration (the ``frame_sample_plan``
    geometry), each reduced to the same 48-bit dHash the image side
    uses. Returns (media_id, frame_i, fhash).

    Deliberately ONE ``mapInPandas`` call per CLIP, not per frame: the
    binary column crosses Arrow once and the (injectable) decoder
    samples all frames in a single pass over the stream — exploding
    timestamps first (``frame_sample_plan``) would copy the clip bytes
    into every frame row. Empty-duration clips yield no frames. The
    frame count is computed JVM-side from the metadata struct, so the
    decoder contract is explicit: ``decode_fn(content, n_frames) ->
    n_frames pixel lists``, validated per frame like ``image_dhash``.
    """
    n_px = grid_w * grid_h
    fake = decode_fn is None

    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])

    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0)).cast("long")
    vids = media.filter(F.col("kind") == "video").select(
        "media_id",
        "content",
        F.when(dur > 0, (F.floor((dur - 1) / every_ms) + 1).cast("int"))
        .otherwise(F.lit(0))
        .alias("_n_frames"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fis, fps = [], [], []
            for mid, c, nf in zip(
                pdf["media_id"], pdf["content"], pdf["_n_frames"]
            ):
                frames = (
                    [
                        deterministic_fake_frame_pixels(c, j, n_px)
                        for j in range(nf)
                    ]
                    if fake
                    else decode_fn(c, int(nf))
                )
                if len(frames) != nf:
                    raise ValueError(
                        f"decode_fn returned {len(frames)} frames; "
                        f"video_frame_hashes asked for {nf}"
                    )
                for j, px in enumerate(frames):
                    if len(px) != n_px:
                        raise ValueError(
                            f"frame {j}: decode_fn returned {len(px)} "
                            f"pixels; needs exactly grid_w*grid_h = {n_px}"
                        )
                    fp = 0
                    for r in range(grid_h):
                        base = r * grid_w
                        for c_ in range(grid_w - 1):
                            if px[base + c_] < px[base + c_ + 1]:
                                fp |= 1 << (r * (grid_w - 1) + c_)
                    ids.append(mid)
                    fis.append(j)
                    fps.append(fp)
            yield pd.DataFrame({"media_id": ids, "frame_i": fis, "fhash": fps})

    return vids.mapInPandas(run, schema=FRAME_HASH_SCHEMA)


def video_near_dup_pairs(
    media: DataFrame,
    min_matching_frames: int = 2,
    every_ms: int = 1000,
    decode_fn: Callable[[bytes, int], list[list[int]]] | None = None,
    grid_w: int = 7,
    grid_h: int = 8,
    max_frame_df: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Video near-duplicate pairs by SAMPLED-FRAME matching: two clips
    are near-dups when at least ``min_matching_frames`` of their
    sampled-frame dHashes agree exactly — the classic frame-signature
    approach (a re-encode/transcode/container swap keeps the frames,
    so their thumbnail hashes survive; a trim keeps most of them).
    Completes the modality matrix: text (simhash/minhash/exactsubstr),
    image (dHash), audio (energy contour), video (frame set).

    Scale shape: candidates come from an EQUI-join on the 48-bit frame
    hash — never all-pairs, and unlike Hamming banding no chunk
    explosion is needed (frame match is exact equality; robustness
    comes from needing only ``min_matching_frames`` of MANY frames to
    survive). The hot-bucket hazard is a frame ubiquitous across
    clips (black frames, studio logos — the stop-word problem on the
    video modality): ``max_frame_df`` drops frame hashes appearing in
    more than that many clips before the join, exactly the boilerplate
    n-gram discipline. ``sigs=`` is the landed-fingerprint seam: feed
    a landed (media_id, frame_i, fhash) table and the decode never
    re-runs (the image/audio discipline). Returns (doc_a, doc_b,
    n_matching, n_frames_a, n_frames_b) with doc_a < doc_b, where
    n_frames_* count DISTINCT frame hashes per clip (the match
    denominator for a containment-style score downstream).
    """
    if sigs is None:
        sigs = video_frame_hashes(
            media,
            every_ms=every_ms,
            decode_fn=decode_fn,
            grid_w=grid_w,
            grid_h=grid_h,
        )
    # distinct per clip: a repeated frame within one clip must not
    # multiply-count as several matches
    fset = sigs.select("media_id", "fhash").distinct()
    if max_frame_df is not None:
        hot = (
            fset.groupBy("fhash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_frame_df)
            .select("fhash")
        )
        fset = fset.join(hot, "fhash", "left_anti")
    counts = fset.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("_nf")
    )
    a, b = fset.alias("a"), fset.alias("b")
    matches = (
        a.join(
            b,
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching"))
        .filter(F.col("n_matching") >= min_matching_frames)
    )
    return (
        matches.join(
            counts.select(
                F.col("media_id").alias("doc_a"), F.col("_nf").alias("n_frames_a")
            ),
            "doc_a",
        )
        .join(
            counts.select(
                F.col("media_id").alias("doc_b"), F.col("_nf").alias("n_frames_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "n_matching", "n_frames_a", "n_frames_b")
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame timestamp
    (the decode of each frame is the injectable step). Expressed with
    sequence+explode so the row explosion happens JVM-side and the
    binary column is carried, not copied per frame, until the UDF."""
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        "content",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter building a MEDIA_SCHEMA frame from the text corpus (the
    container has no real media files); exercises the identical
    binary-column path."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            # varied synthetic geometry so resize planning has work:
            # some images land inside any reasonable box, some outside,
            # both orientations
            (F.lit(32) + F.col("doc_id") % 97).cast("int").alias("width"),
            (F.lit(32) + F.col("doc_id") % 53).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def resize_plan(
    media: DataFrame, max_w: int = 224, max_h: int = 224
) -> DataFrame:
    """Aspect-preserving image resize *plan*: per image, the exact
    integer target geometry — (media_id, width, height, target_w,
    target_h, needs_resize) — computed ENTIRELY JVM-side from metadata;
    the pixel work is the injectable step (Pillow not in container),
    exactly like the decode seam.

    The limiting side is chosen with cross-multiplied integers
    (w*max_h >= h*max_w <=> w/max_w >= h/max_h, no float ratio), and
    the other side scales by integer floor division — deterministic
    and engine-exact, so the plan itself is oracle-checkable. Images
    already inside the box pass through unscaled (upscaling is never
    planned). Scale shape: pure scan-stage expressions on the metadata
    struct; the binary column isn't touched, so a resize-plan audit
    over 100 TB of media reads only the meta columns (column pruning
    keeps bytes out of the scan entirely).
    """
    if max_w <= 0 or max_h <= 0:
        raise ValueError("resize_plan: max_w/max_h must be positive")
    w = F.col("meta.width").cast("long")
    h = F.col("meta.height").cast("long")
    has_dims = w.isNotNull() & h.isNotNull()
    needs = (w > max_w) | (h > max_h)
    width_limited = (w * max_h) >= (h * max_w)
    # floor division can hit 0 on extreme aspect ratios (a 1000x10
    # strip into a square box) — clamp to 1px, the thinnest real image.
    # Missing geometry (NULL width/height — routine for scraped media)
    # propagates NULL targets + NULL needs_resize rather than letting
    # greatest(NULL, 1) plan a destructive 1x1 resize.
    tw = F.when(
        has_dims,
        F.greatest(
            F.when(~needs, w)
            .when(width_limited, F.lit(max_w).cast("long"))
            .otherwise(F.expr(f"div(CAST(meta.width AS BIGINT) * {max_h}, CAST(meta.height AS BIGINT))")),
            F.lit(1).cast("long"),
        ),
    )
    th = F.when(
        has_dims,
        F.greatest(
            F.when(~needs, h)
            .when(width_limited, F.expr(f"div(CAST(meta.height AS BIGINT) * {max_w}, CAST(meta.width AS BIGINT))"))
            .otherwise(F.lit(max_h).cast("long")),
            F.lit(1).cast("long"),
        ),
    )
    return media.filter(F.col("kind") == "image").select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        tw.alias("target_w"),
        th.alias("target_h"),
        needs.alias("needs_resize"),
    )


def audio_window_plan(
    media: DataFrame, win_ms: int = 2000, hop_ms: int = 1000
) -> DataFrame:
    """Audio windowing *plan*: one row per (start_ms, end_ms) analysis
    window over each clip's duration — the frame_sample_plan shape for
    the audio modality (sliding, possibly overlapping windows instead
    of point samples). sequence+explode runs JVM-side; the binary
    column is carried by reference until the (injectable) feature UDF.
    Windows start strictly inside the clip and clamp their end to the
    duration, so a clip shorter than win_ms still yields its one
    partial window."""
    if win_ms <= 0 or hop_ms <= 0:
        raise ValueError("audio_window_plan: win_ms/hop_ms must be positive")
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0)).cast("long")
    return (
        media.filter((F.col("kind") == "audio") & (dur > 0))
        .select(
            "media_id",
            "content",
            dur.alias("_dur"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(dur - 1, F.lit(0)),
                    F.lit(hop_ms),
                )
            ).alias("start_ms"),
        )
        .select(
            "media_id",
            "content",
            "start_ms",
            F.least(F.col("start_ms") + win_ms, F.col("_dur")).alias("end_ms"),
        )
    )
