"""Video fingerprinting (VID0 container walk + per-frame dHash +
temporal grams): container loud-failure contract, fingerprint parity
with an independent computation, frame-trim shift-robustness, the
hot-gram cap, increment-vs-index matching and RTBF."""

import hashlib

import pytest

from datawarehouse_code_spark.operators.media_dedup import dhash_bits
from datawarehouse_code_spark.operators.multimodal import encode_gray_pgm
from datawarehouse_code_spark.operators.video_dedup import (
    build_video_fp_index,
    decode_video_frames,
    encode_video,
    video_fingerprints,
    video_fp_strings,
    video_matches_incremental,
    video_near_dup_pairs,
)
from tests.conftest import seeded_raster


def test_container_roundtrip_and_loud_failures():
    frames = [seeded_raster(s) for s in range(3)]
    data = encode_video(frames)
    assert decode_video_frames(data) == frames
    with pytest.raises(ValueError, match="magic"):
        decode_video_frames(b"JUNK" + data[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_video_frames(data[:-3])
    with pytest.raises(ValueError, match="trailing"):
        decode_video_frames(data + b"x")
    with pytest.raises(ValueError, match="cap"):
        decode_video_frames(
            b"VID0" + (2**20).to_bytes(4, "little")
        )


def test_fp_strings_match_independent_computation():
    frames = [seeded_raster(s) for s in range(4)]
    got = video_fp_strings(frames, gram=2)
    keys = []
    for s in range(4):
        bands = [((s * 8 + 2 * k) * 37) % 256
                 | ((((s * 8 + 2 * k + 1) * 37) % 256) << 8)
                 for k in range(4)]
        keys.append(":".join(str(b) for b in bands))
    want = [
        hashlib.md5(f"{keys[g]} | {keys[g + 1]}".encode()).hexdigest()
        for g in range(3)
    ]
    assert got == want
    # sanity: the construction really controls the per-frame hash
    from datawarehouse_code_spark.operators.multimodal import decode_image

    w, h, ch, px = decode_image(frames[0])
    assert ":".join(str(b) for b in dhash_bits(w, h, ch, px)) == keys[0]


def test_frame_trim_shift_robustness(spark):
    """Copies missing leading frames share every gram of the overlap
    (8-frame base, trims of 1 and 2 -> 6 and 5 shared grams); an
    unrelated video shares nothing."""
    base = [seeded_raster(s) for s in range(8)]
    rows = [
        (0, "video/vid0", encode_video(base)),
        (1, "video/vid0", encode_video(base[1:])),
        (2, "video/vid0", encode_video(base[2:])),
        (3, "video/vid0", encode_video([seeded_raster(s) for s in range(50, 56)])),
    ]
    media = spark.createDataFrame(rows, ["media_id", "media_type", "content"])
    pairs = {
        (r["d1"], r["d2"]): r["n_shared"]
        for r in video_near_dup_pairs(media, min_shared=2).collect()
    }
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}
    assert pairs[(0, 1)] == 6 and pairs[(1, 2)] == 5 and pairs[(0, 2)] == 5


def test_hot_gram_cap(spark):
    """A black-frame loop shared by more media than the cap is
    dropped before the self-join."""
    loop = encode_video([seeded_raster(0)] * 4)
    media = spark.createDataFrame(
        [(i, "video/vid0", loop) for i in range(8)],
        ["media_id", "media_type", "content"],
    )
    assert video_near_dup_pairs(media, min_shared=1, hot_cap=4).count() == 0
    assert (
        video_near_dup_pairs(media, min_shared=1, hot_cap=8).count()
        == 8 * 7 // 2
    )


def test_video_incremental_and_rtbf(spark, tmp_path):
    from datawarehouse_code_spark.operators.corpus import forget_index_rows

    base = [seeded_raster(s) for s in range(8)]
    corpus = spark.createDataFrame(
        [
            (1, "video/vid0", encode_video(base)),
            # seeds stay distinct mod 32: the _frame row-byte rule is
            # ((seed*8 + r)*37) % 256, periodic in seed with period 32
            (2, "video/vid0", encode_video([seeded_raster(s) for s in range(10, 18)])),
        ],
        ["media_id", "media_type", "content"],
    )
    path = str(tmp_path / "video_idx")
    build_video_fp_index(corpus).write.parquet(path)

    inc = spark.createDataFrame(
        [(10, "video/vid0", encode_video(base[3:]))],
        ["media_id", "media_type", "content"],
    )
    got = {
        (r["d_new"], r["d_corpus"]): r["n_shared"]
        for r in video_matches_incremental(
            inc, spark.read.parquet(path)
        ).collect()
    }
    assert got == {(10, 1): 4}  # 5-frame trim overlap -> 4 shared grams

    forget_index_rows(
        spark, path, corpus.filter("media_id = 1"), id_col="media_id"
    )
    exact = spark.createDataFrame(
        [(11, "video/vid0", encode_video(base))],
        ["media_id", "media_type", "content"],
    )
    assert (
        video_matches_incremental(exact, spark.read.parquet(path)).count()
        == 0
    )


def test_null_payload_yields_no_rows(spark):
    media = spark.createDataFrame(
        [(1, "video/vid0", None)],
        "media_id BIGINT, media_type STRING, content BINARY",
    )
    assert video_fingerprints(media).count() == 0


def _seed_bands(seed: int) -> tuple[int, ...]:
    """Closed-form dHash bands of seeded_raster(seed)."""
    return tuple(
        ((seed * 8 + 2 * k) * 37) % 256
        | ((((seed * 8 + 2 * k + 1) * 37) % 256) << 8)
        for k in range(4)
    )


def test_video_frame_dhashes_construction(spark):
    """Per-frame rows carry the image detector's exact hash with the
    container's frame order."""
    from datawarehouse_code_spark.operators.video_dedup import (
        video_frame_dhashes,
    )

    media = spark.createDataFrame(
        [(7, "video/vid0", encode_video([seeded_raster(3), seeded_raster(5)]))],
        ["media_id", "media_type", "content"],
    )
    got = {
        r["frame_idx"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in video_frame_dhashes(media).collect()
    }
    assert got == {0: _seed_bands(3), 1: _seed_bands(5)}


def test_video_image_matches_closes_the_blind_spot(spark):
    """A still image re-used as a frame — including inside a ONE-frame
    video, which temporal grams (gram=2) can never fingerprint — is
    found by the cross-modal matcher; near-dup frames verify at their
    exact hamming; unrelated images never match."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        video_frame_dhashes,
        video_image_matches,
    )

    images = spark.createDataFrame(
        [
            (100, "image/pgm", seeded_raster(3)),          # exact re-use
            (101, "image/pgm", seeded_raster(5, flip_bits=2)),  # near-dup of frame 5
            (102, "image/pgm", seeded_raster(60)),          # unrelated
        ],
        ["media_id", "media_type", "content"],
    )
    videos = spark.createDataFrame(
        [
            (1, "video/vid0", encode_video([seeded_raster(3)])),  # 1-frame video
            (2, "video/vid0", encode_video([seeded_raster(4), seeded_raster(5)])),
        ],
        ["media_id", "media_type", "content"],
    )
    # the temporal-gram detector is BLIND to the 1-frame video
    assert (
        video_fingerprints(videos.filter("media_id = 1")).count() == 0
    )
    idx = build_dhash_index(None, hashes=image_dhash(images))
    got = {
        (r["video_id"], r["frame_idx"], r["image_id"]):
            (r["n_shared_bands"], r["hamming"])
        for r in video_image_matches(
            video_frame_dhashes(videos), idx, max_hamming=6
        ).collect()
    }
    assert got == {
        (1, 0, 100): (4, 0),   # the 1-frame re-use, exact
        (2, 1, 101): (3, 2),   # band 0 flipped, 2 bits -> hamming 2
    }


def test_video_image_matches_caps_hot_index_bands(spark):
    """More identical corpus images than band_cap -> the bucket is
    dropped at read time and the frame matches nothing."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        video_frame_dhashes,
        video_image_matches,
    )

    images = spark.createDataFrame(
        [(i, "image/pgm", seeded_raster(0)) for i in range(6)],
        ["media_id", "media_type", "content"],
    )
    videos = spark.createDataFrame(
        [(1, "video/vid0", encode_video([seeded_raster(0)]))],
        ["media_id", "media_type", "content"],
    )
    idx = build_dhash_index(None, hashes=image_dhash(images))
    frames = video_frame_dhashes(videos)
    assert video_image_matches(frames, idx, band_cap=5).count() == 0
    assert video_image_matches(frames, idx, band_cap=6).count() == 6


def test_image_video_matches_reverse_direction(spark):
    """The image arriving AFTER the video: new images vs the persisted
    FRAME index find the same containments the forward matcher finds —
    detection must not depend on arrival order."""
    from datawarehouse_code_spark.operators.media_dedup import image_dhash
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
    )

    videos = spark.createDataFrame(
        [
            (1, "video/vid0", encode_video([seeded_raster(3)])),
            (2, "video/vid0", encode_video([seeded_raster(4), seeded_raster(5)])),
        ],
        ["media_id", "media_type", "content"],
    )
    images = spark.createDataFrame(
        [
            (100, "image/pgm", seeded_raster(3)),             # contained in video 1
            (101, "image/pgm", seeded_raster(5, flip_bits=2)),  # near frame (2, 1)
            (102, "image/pgm", seeded_raster(60)),            # unrelated
        ],
        ["media_id", "media_type", "content"],
    )
    frame_index = build_frame_dhash_index(video_frame_dhashes(videos))
    got = {
        (r["image_id"], r["video_id"], r["frame_idx"]):
            (r["n_shared_bands"], r["hamming"])
        for r in image_video_matches(
            image_dhash(images), frame_index, max_hamming=6
        ).collect()
    }
    assert got == {
        (100, 1, 0): (4, 0),
        (101, 2, 1): (3, 2),
    }


def test_image_video_matches_caps_hot_frame_bands(spark):
    """More videos carrying an identical frame than band_cap -> the
    frame-index bucket is dropped at read time (distinct-VIDEO
    grain) and the new image matches nothing."""
    from datawarehouse_code_spark.operators.media_dedup import image_dhash
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
    )

    videos = spark.createDataFrame(
        [(i, "video/vid0", encode_video([seeded_raster(0)])) for i in range(6)],
        ["media_id", "media_type", "content"],
    )
    images = spark.createDataFrame(
        [(100, "image/pgm", seeded_raster(0))],
        ["media_id", "media_type", "content"],
    )
    frame_index = build_frame_dhash_index(video_frame_dhashes(videos))
    hits = image_video_matches(
        image_dhash(images), frame_index, band_cap=5
    )
    assert hits.count() == 0
    assert image_video_matches(
        image_dhash(images), frame_index, band_cap=6
    ).count() == 6


def test_combined_frames_map_matches_single_purpose_maps(spark):
    """video_fingerprints_frames_quarantine from ONE decode: its gram
    rows equal video_fingerprints, its frame rows equal
    video_frame_dhashes, a corrupt container yields exactly one
    quarantine row, and healthy rows carry decode_error NULL."""
    from datawarehouse_code_spark.operators.video_dedup import (
        video_fingerprints_frames_quarantine,
        video_frame_dhashes,
    )

    media = spark.createDataFrame(
        [
            (1, "video/vid0", encode_video([seeded_raster(s) for s in range(3)])),
            (2, "video/vid0", b"JUNKJUNK"),
        ],
        ["media_id", "media_type", "content"],
    )
    combined = video_fingerprints_frames_quarantine(media).collect()

    grams = {(r["media_id"], r["fp"]) for r in combined
             if r["fp"] is not None}
    assert all(r["decode_error"] is None for r in combined
               if r["fp"] is not None)
    healthy = media.filter("media_id = 1")
    assert grams == {
        (r["media_id"], r["fp"])
        for r in video_fingerprints(healthy).collect()
    }

    frames = {
        (r["media_id"], r["frame_idx"]): (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in combined if r["frame_idx"] is not None
    }
    assert frames == {
        (r["media_id"], r["frame_idx"]): (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in video_frame_dhashes(healthy).collect()
    }

    quarantined = [r for r in combined if r["decode_error"] is not None]
    assert len(quarantined) == 1
    assert quarantined[0]["media_id"] == 2
    assert "ValueError" in quarantined[0]["decode_error"]
    assert quarantined[0]["fp"] is None
    assert quarantined[0]["frame_idx"] is None


def test_rtbf_closes_over_the_frame_index(spark, tmp_path):
    """forget_index_rows(id_col='media_id') on the frame-grain index:
    after a video is forgotten, an image equal to one of its frames
    matches nothing — the reverse cross-modal lane honors RTBF."""
    from datawarehouse_code_spark.operators.corpus import forget_index_rows
    from datawarehouse_code_spark.operators.media_dedup import image_dhash
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
    )

    videos = spark.createDataFrame(
        [
            (1, "video/vid0", encode_video([seeded_raster(3), seeded_raster(4)])),
            (2, "video/vid0", encode_video([seeded_raster(8), seeded_raster(9)])),
        ],
        ["media_id", "media_type", "content"],
    )
    path = str(tmp_path / "frame_idx")
    build_frame_dhash_index(video_frame_dhashes(videos)).write.parquet(path)

    probe = spark.createDataFrame(
        [(100, "image/pgm", seeded_raster(3))],
        ["media_id", "media_type", "content"],
    )
    before = image_video_matches(
        image_dhash(probe), spark.read.parquet(path)
    ).collect()
    assert any(r["video_id"] == 1 and r["hamming"] == 0 for r in before)

    removed = forget_index_rows(
        spark, path, videos.filter("media_id = 1"), id_col="media_id"
    )
    assert removed == 8  # 2 frames x 4 band rows
    after = image_video_matches(
        image_dhash(probe), spark.read.parquet(path)
    ).collect()
    assert not any(r["video_id"] == 1 for r in after)


def test_frame_phash_catches_rescaled_image_in_video_both_directions(spark):
    """The envelope-matrix corner: a video frame that is the 2x
    upscale of a corpus image drifts PAST the dHash radius (salt
    chosen so the twins' dHash hamming is 8) but lands on the image's
    pHash exactly — video_frame_phashes + the unchanged band
    machinery detect it in BOTH directions, and the dHash frame lane
    confirms its documented miss."""
    import hashlib

    import numpy as np

    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
        image_phash,
        phash_view,
    )
    from datawarehouse_code_spark.operators.media_dedup import (
        image_fingerprints_quarantine,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
        video_frame_phashes,
        video_image_matches,
    )

    def base32(salt):
        return np.frombuffer(
            b"".join(
                hashlib.sha256(f"{salt}:{i}".encode()).digest()
                for i in range(32)
            ),
            dtype=np.uint8,
        ).reshape(32, 32)

    b = base32("mmgate-b")  # dHash hamming 8 / pHash hamming 0 twins
    img32 = encode_gray_pgm(32, 32, b.tobytes())
    img64 = encode_gray_pgm(
        64, 64, np.repeat(np.repeat(b, 2, 0), 2, 1).tobytes()
    )
    images = spark.createDataFrame(
        [(100, "image/pgm", img32)], ["media_id", "media_type", "content"]
    )
    videos = spark.createDataFrame(
        [(1, "video/vid0", encode_video([img64, seeded_raster(7)]))],
        ["media_id", "media_type", "content"],
    )

    # forward: video frames vs the image pHash index
    p_idx = build_dhash_index(None, hashes=image_phash(images))
    got = {
        (r["video_id"], r["frame_idx"], r["image_id"], r["hamming"])
        for r in video_image_matches(
            video_frame_phashes(videos), p_idx
        ).collect()
    }
    assert got == {(1, 0, 100, 0)}

    # reverse: the image vs a pHash frame index
    f_idx = build_frame_dhash_index(video_frame_phashes(videos))
    rev = {
        (r["image_id"], r["video_id"], r["frame_idx"], r["hamming"])
        for r in image_video_matches(
            phash_view(image_fingerprints_quarantine(images)), f_idx
        ).collect()
    }
    assert rev == {(100, 1, 0, 0)}

    # the dHash frame lane misses the rescale (the documented gap
    # this operator closes)
    d_idx = build_dhash_index(None, hashes=image_dhash(images))
    assert video_image_matches(
        video_frame_dhashes(videos), d_idx
    ).count() == 0

    # sub-32px frames yield no pHash row (frame 1 is 9x8)
    assert video_frame_phashes(videos).count() == 1
