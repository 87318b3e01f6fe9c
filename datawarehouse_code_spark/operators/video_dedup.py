"""Video near-duplicate detection — the fourth modality's dedup lane,
completing the family (text: exact/MinHash/SimHash/CDC/winnowing;
embeddings: SemDeDup/ANN; images: dHash; audio: energy grams).

A "video" here is a frame container: the image/audio codec libraries
this container ships without are exactly the stubbed decode boundary
the brief prescribes, so the CONTAINER walk, the per-frame image
decode (the real pure-Python decoders), the perceptual hashing and the
temporal fingerprint matching are all real — only the exotic-codec
frame payloads would route to quarantine, same as single images.

Container format (VID0): b'VID0' + uint32 n_frames + n_frames ×
(uint32 len + frame bytes), little-endian.  Each frame is any payload
decode_image accepts (PNM/BMP/JPEG/PNG).  Deliberately minimal — at
100 TB the point is the Spark-side shape (narrow Arrow map, frames
never leave the worker, fingerprints are the only output), not
container realism; a real demuxer slots in behind decode_video_frames
exactly like Pillow slots in behind decode_image.

Every video lane (grams, frame dHash / pHash rows, their quarantine
twins) is a row function handed to multimodal._media_map, the one
decode map; it owns the one bad-payload policy, including the
all-or-nothing rule: a payload's rows are built in full before any is
emitted, so a video with one undecodable frame yields only its error
row in a quarantine lane.

Fingerprints are TEMPORAL GRAMS of per-frame dHashes (the video twin
of the audio energy grams): md5 over `gram` consecutive frame-hash
band tuples, matched by VALUE — a copy missing m leading/trailing
frames still shares every gram of the overlap, and an edit re-grams
only the frames around it (the winnowing locality argument, one level
up).  Detect → persisted index → increment-cost matching → RTBF via
forget_index_rows(id_col='media_id'), with the distinct-carrier hot
cap before every self-join (a black-frame loop is the hot key here).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import cut_lineage
from datawarehouse_code_spark.operators.media_dedup import (
    PHASH_SIZE,
    _cap_hot_bands,
    _cap_hot_fps,
    _explode_bands,
    _hamming64,
    dhash_bits,
    phash_bits,
)
from datawarehouse_code_spark.operators.multimodal import _media_map, decode_image

VIDEO_MAGIC = b"VID0"
VIDEO_MAX_FRAMES = 4096
VIDEO_MAX_FRAME_BYTES = 1 << 24

VIDEO_FP_SCHEMA = "media_id BIGINT, fp STRING"


def encode_video(frames: list[bytes]) -> bytes:
    """Pack encoded frame payloads into a VID0 container (the fixture
    encoder — tests and oracles know the exact frame bytes)."""
    if len(frames) > VIDEO_MAX_FRAMES:
        raise ValueError(f"{len(frames)} frames > cap {VIDEO_MAX_FRAMES}")
    out = bytearray(VIDEO_MAGIC)
    out += struct.pack("<I", len(frames))
    for f in frames:
        if len(f) > VIDEO_MAX_FRAME_BYTES:
            raise ValueError(
                f"frame of {len(f)} bytes > cap {VIDEO_MAX_FRAME_BYTES}"
            )
        out += struct.pack("<I", len(f))
        out += f
    return bytes(out)


def decode_video_frames(data: bytes) -> list[bytes]:
    """Walk a VID0 container into its ordered frame payloads.  Loud-
    failure contract like every decoder here: ValueError for bad
    magic, over-cap frame counts/sizes, truncation mid-walk, and
    trailing garbage after the declared frames — a container that
    lies about its sizes never silently yields a partial video."""
    if bytes(data[:4]) != VIDEO_MAGIC:
        raise ValueError(
            f"not a VID0 container (magic {bytes(data[:4])!r})"
        )
    if len(data) < 8:
        raise ValueError("truncated VID0 header")
    (n_frames,) = struct.unpack_from("<I", data, 4)
    if n_frames > VIDEO_MAX_FRAMES:
        raise ValueError(f"{n_frames} frames > cap {VIDEO_MAX_FRAMES}")
    frames, pos = [], 8
    for i in range(n_frames):
        if pos + 4 > len(data):
            raise ValueError(f"truncated VID0 length prefix (frame {i})")
        (flen,) = struct.unpack_from("<I", data, pos)
        if flen > VIDEO_MAX_FRAME_BYTES:
            raise ValueError(
                f"frame {i} declares {flen} bytes > cap "
                f"{VIDEO_MAX_FRAME_BYTES}"
            )
        pos += 4
        if pos + flen > len(data):
            raise ValueError(f"truncated VID0 frame {i}")
        frames.append(bytes(data[pos: pos + flen]))
        pos += flen
    if pos != len(data):
        raise ValueError(
            f"{len(data) - pos} trailing bytes after VID0 frames"
        )
    return frames


def video_frame_band_tuples(
    frames: list[bytes],
) -> list[tuple[int, int, int, int]]:
    """Per-frame dHash band tuples of one video's decoded frames —
    the ONE frame-hashing implementation both consumers derive from:
    temporal grams (video_fp_strings) and the frame-grain cross-modal
    rows (video_frame_dhashes / the combined gate map).  Deriving
    both from the same tuples guarantees a video's grams and its
    frame index rows can never disagree about what a frame hashes
    to."""
    out = []
    for payload in frames:
        w, h, ch, px = decode_image(payload)
        out.append(dhash_bits(w, h, ch, px))
    return out


def _gram_strings(
    bands: list[tuple[int, int, int, int]], gram: int
) -> list[str]:
    """Temporal gram strings from frame band tuples: each frame keyed
    'b0:b1:b2:b3', md5 over every run of `gram` consecutive keys
    joined with ' | '.  Decimal-rendered integers + md5 = the engine-
    shared hash, so a DuckDB oracle replays fingerprints exactly."""
    import hashlib

    keys = [":".join(str(b) for b in t) for t in bands]
    return [
        hashlib.md5(" | ".join(keys[g: g + gram]).encode()).hexdigest()
        for g in range(len(keys) - gram + 1)
    ]


def video_fp_strings(frames: list[bytes], gram: int = 2) -> list[str]:
    """The temporal fingerprint set of one video's decoded frames:
    dHash each frame (the image detector's exact hash), then gram the
    frame keys (see _gram_strings for the exact rendering)."""
    return _gram_strings(video_frame_band_tuples(frames), gram)


def _video_fp_rows(gram: int):
    """The row function of both video fingerprint lanes: one (fp,)
    row per distinct temporal gram of the container's frames."""

    def rows(content: bytes):
        frames = decode_video_frames(content)
        return [(fp,) for fp in set(video_fp_strings(frames, gram))]

    return rows


def video_fingerprints(media: DataFrame, gram: int = 2) -> DataFrame:
    """Per-media DISTINCT video fingerprints: container walk +
    per-frame image decode + dHash + temporal grams, all inside one
    narrow Arrow-batched map — frames and pixels never leave the
    worker, only (media_id, fp) does.  `gram` is the index contract —
    increments must pass the same value."""
    return _media_map(media, _video_fp_rows(gram), VIDEO_FP_SCHEMA).distinct()


def video_near_dup_pairs(
    media: DataFrame,
    min_shared: int = 2,
    hot_cap: int = 50,
    gram: int = 2,
) -> DataFrame:
    """Video near-dup pairs: (d1, d2, n_shared) for videos sharing ≥
    `min_shared` temporal grams, hot grams capped BEFORE the
    self-join.  A copy trimmed or extended by whole frames shares
    every gram of the overlap; a mid-edit re-grams only the edited
    neighborhood.  The fingerprint table feeds four consumers (cap +
    both join sides) and is materialized once, the winnowing
    precedent — without it the container walk and every
    frame decode re-run per consumer."""
    fps = _cap_hot_fps(
        cut_lineage(video_fingerprints(media, gram)), hot_cap
    )
    a = fps.select(F.col("media_id").alias("d1"), "fp")
    b = fps.select(F.col("media_id").alias("d2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def build_video_fp_index(media: DataFrame, gram: int = 2) -> DataFrame:
    """The persisted video fingerprint index: (media_id, fp) distinct
    — same contract as the audio/CDC/winnowing indexes (read-time hot
    cap in the incremental matcher; RTBF via forget_index_rows with
    id_col='media_id')."""
    return video_fingerprints(media, gram)


def video_matches_incremental(
    new_media: DataFrame,
    index: DataFrame,
    min_shared: int = 1,
    hot_cap: int = 50,
    gram: int = 2,
) -> DataFrame:
    """Increment-vs-corpus video matching through the persisted
    index: (d_new, d_corpus, n_shared) — the increment decodes and
    fingerprints itself, the corpus rides the equi-join, cost ∝
    |increment|.  `gram` must match the index build."""
    inc = video_fingerprints(new_media, gram).select(
        F.col("media_id").alias("d_new"), "fp"
    )
    idx = _cap_hot_fps(index, hot_cap).select(
        F.col("media_id").alias("d_corpus"), "fp"
    )
    return (
        inc.join(idx, "fp")
        .filter(F.col("d_new") != F.col("d_corpus"))
        .groupBy("d_new", "d_corpus")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


VIDEO_FRAME_DHASH_SCHEMA = (
    "media_id BIGINT, frame_idx INT, b0 INT, b1 INT, b2 INT, b3 INT"
)


def video_frame_dhashes(media: DataFrame) -> DataFrame:
    """Per-FRAME dHash rows from VID0 containers: (media_id,
    frame_idx, b0..b3) — one row per decoded frame, the frame-grain
    sibling of video_fingerprints (which grams ≥2 frames and so can
    never see a single frame).  This is the cross-modal bridge: the
    rows carry the image detector's EXACT hash in the image index's
    band layout, so a still image re-used as a frame inside a video
    equi-joins the persisted dHash band index directly
    (video_image_matches below).  A narrow Arrow-batched map — frames
    and pixels never leave the worker, only 6 small ints per frame do;
    the loud-failure decode contract is the container walk's."""

    def rows(content: bytes):
        bands = video_frame_band_tuples(decode_video_frames(content))
        return [(j, *t) for j, t in enumerate(bands)]

    return _media_map(media, rows, VIDEO_FRAME_DHASH_SCHEMA)


def video_image_matches(
    frame_hashes: DataFrame,
    image_index: DataFrame,
    max_hamming: int = 6,
    band_cap: int = 50,
) -> DataFrame:
    """Frame-level CROSS-MODAL matching: video frames vs the persisted
    image dHash band index (media_dedup.build_dhash_index) —
    (video_id, frame_idx, image_id, n_shared_bands, hamming) for every
    frame within `max_hamming` of a corpus image.  Closes the
    modality blind spot where a still image re-used inside a video was
    undetectable (video fingerprints gram ≥2 frames; images never saw
    frames at all).

    Scale shape is the incremental-matcher's: the videos are decoded
    and hashed fresh (cost ∝ |videos| frames), the image corpus rides
    the band equi-join and is never re-decoded; hot index buckets are
    capped at `band_cap` distinct images BEFORE the join (read-time,
    replay-idempotent), so a constant-color frame meets at most
    `band_cap` images per band.  Bucket-then-verify: band collisions
    only propose candidates, the exact 64-bit hamming filter decides."""
    frames = frame_hashes.select(
        F.col("media_id").alias("video_id"), "frame_idx",
        "b0", "b1", "b2", "b3",
        F.expr(
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)"
        ),
    )
    idx = _cap_hot_bands(image_index, band_cap).select(
        F.col("media_id").alias("image_id"), "band_idx", "band_val",
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
    )
    return (
        frames.join(idx, ["band_idx", "band_val"])
        .withColumn("hamming", _hamming64())
        .groupBy("video_id", "frame_idx", "image_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shared_bands"),
            F.min("hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


VIDEO_FP_QUARANTINE_SCHEMA = VIDEO_FP_SCHEMA + ", decode_error STRING"


def video_fingerprints_quarantine(
    media: DataFrame, gram: int = 2
) -> DataFrame:
    """video_fingerprints with a QUARANTINE lane: a container the walk
    rejects, or ANY frame the image decoders reject, yields one row
    with fp NULL and the error string — a video is fingerprinted
    all-or-nothing (partial fingerprints would under-match silently);
    healthy media yield their distinct grams with decode_error NULL."""
    return _media_map(
        media, _video_fp_rows(gram), VIDEO_FP_QUARANTINE_SCHEMA,
        quarantine=True,
    ).distinct()


def build_frame_dhash_index(frame_hashes: DataFrame) -> DataFrame:
    """The persisted FRAME-grain perceptual index of a video corpus:
    one row per (video, frame, band) — video_frame_dhashes output
    band-exploded with frame_idx kept, the frame-level sibling of
    media_dedup.build_dhash_index.  This is the reverse cross-modal
    bridge: a still image arriving AFTER the video that contains it
    equi-joins this table (image_video_matches below); the forward
    direction (a video arriving after the image) joins the image
    index instead.  Read-time hot cap in the matcher, RTBF via
    forget_index_rows(id_col='media_id') — deleting a video drops
    all its frame rows."""
    return frame_hashes.select(
        "media_id", "frame_idx", "b0", "b1", "b2", "b3",
        F.expr(
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)"
        ),
    )


def image_video_matches(
    new_hashes: DataFrame,
    frame_index: DataFrame,
    max_hamming: int = 6,
    band_cap: int = 50,
) -> DataFrame:
    """REVERSE cross-modal matching: new still images vs the
    persisted frame dHash index — (image_id, video_id, frame_idx,
    n_shared_bands, hamming) for every new image within `max_hamming`
    of a frame of a corpus video.  video_image_matches covers a video
    arriving after its constituent image; this covers the image
    arriving after the video — without it the detection is
    order-dependent, which a crawl's arrival order must never decide.

    Same scale shape: the increment (`new_hashes`, an image_dhash
    output) is hashed fresh, the video corpus rides the band
    equi-join and is never re-decoded; hot frame-index buckets are
    capped at `band_cap` distinct VIDEOS before the join (a
    black-frame loop across the corpus is the hot key); band
    collisions only propose, the exact 64-bit hamming decides."""
    inc = _explode_bands(new_hashes).select(
        F.col("media_id").alias("image_id"), "band_idx", "band_val",
        "b0", "b1", "b2", "b3",
    )
    idx = _cap_hot_bands(frame_index, band_cap).select(
        F.col("media_id").alias("video_id"), "frame_idx",
        "band_idx", "band_val",
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
    )
    return (
        inc.join(idx, ["band_idx", "band_val"])
        .withColumn("hamming", _hamming64())
        .groupBy("image_id", "video_id", "frame_idx")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shared_bands"),
            F.min("hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


VIDEO_FPS_FRAMES_QUARANTINE_SCHEMA = (
    "media_id BIGINT, fp STRING, frame_idx INT, "
    "b0 INT, b1 INT, b2 INT, b3 INT, decode_error STRING"
)


def video_fingerprints_frames_quarantine(
    media: DataFrame, gram: int = 2
) -> DataFrame:
    """Temporal grams AND frame-grain dHash rows from ONE container
    walk + decode per payload, with the quarantine lane — the
    streaming video gate's map (a gate that maintained both the gram
    index and the cross-modal frame index through separate maps would
    decode every frame twice).  Both derive from the same
    video_frame_band_tuples call, so a video's grams and its frame
    rows can never disagree.

    Row kinds (consumers filter): gram rows carry fp with frame
    columns NULL; frame rows carry (frame_idx, b0..b3) with fp NULL;
    a rejected container yields ONE all-NULL row with decode_error
    set (all-or-nothing, like video_fingerprints_quarantine — partial
    fingerprints would under-match silently).  Healthy rows are
    already distinct per media: grams are set()-deduped in the
    worker, frame rows are unique by (media_id, frame_idx)."""

    def rows(content: bytes):
        bands = video_frame_band_tuples(decode_video_frames(content))
        grams = [(fp,) + (None,) * 5 for fp in set(_gram_strings(bands, gram))]
        return grams + [(None, j, *t) for j, t in enumerate(bands)]

    return _media_map(
        media, rows, VIDEO_FPS_FRAMES_QUARANTINE_SCHEMA, quarantine=True
    )


def video_frame_phashes(media: DataFrame) -> DataFrame:
    """Per-frame DCT pHash rows from VID0 containers: (media_id,
    frame_idx, b0..b3) in the shared band layout — the pHash twin of
    video_frame_dhashes, completing the cross-modal envelope matrix
    (both algos × both directions): a video containing a RESCALED
    copy of a corpus image flips the frame's dHash bits unpredictably
    but lands on the image's pHash exactly (the interpolated-rescale
    envelope).  Frames below the 32×32 pHash grid yield no row (the
    image_phash skip_small contract — dHash carries them); container
    and decode failures stay loud, same as video_frame_dhashes.
    Build the frame index with build_frame_dhash_index and match with
    image_video_matches / video_image_matches — the band machinery is
    layout-generic; keep pHash frame indexes SEPARATE from dHash
    frame indexes (unrelated band spaces)."""

    def rows(content: bytes):
        for j, payload in enumerate(decode_video_frames(content)):
            w, h, ch, px = decode_image(payload)
            if w >= PHASH_SIZE and h >= PHASH_SIZE:
                yield (j, *phash_bits(w, h, ch, px))

    return _media_map(media, rows, VIDEO_FRAME_DHASH_SCHEMA)
