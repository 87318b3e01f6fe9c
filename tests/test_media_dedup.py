"""Perceptual image hashing (dHash) + banded near-dup detection:
the invariances that make dHash a PERCEPTUAL hash (re-encoding,
uniform brightness shift, integer upscaling), exact-bit control via
constructed rasters (test-side independent bit computation), the
bucket-then-verify pair semantics, the hot-band cap, the persisted
index's increment-cost matching, and right-to-be-forgotten."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.media_dedup import (
    build_dhash_index,
    dhash_bits,
    dhash_matches_incremental,
    dhash_near_dup_pairs,
    image_dhash,
)
from datawarehouse_code_spark.operators.multimodal import (
    dhash_raster,
    encode_const_bmp,
    encode_const_png,
    encode_const_ppm,
    encode_gray_pgm,
)


def _bands_from_row_bytes(row_bytes: list[int]) -> tuple[int, ...]:
    """The expected band values, computed independently of the
    operator: band k packs rows 2k (low byte) and 2k+1 (high)."""
    return tuple(
        row_bytes[2 * k] | (row_bytes[2 * k + 1] << 8) for k in range(4)
    )


ROWS_A = [0x13, 0x8F, 0x00, 0xFF, 0xA5, 0x3C, 0x71, 0xE2]


def test_dhash_bits_match_independent_construction():
    raster = dhash_raster(ROWS_A)
    assert dhash_bits(9, 8, 1, raster) == _bands_from_row_bytes(ROWS_A)


def test_dhash_brightness_shift_invariance():
    raster = dhash_raster(ROWS_A)
    shifted = bytes(v + 37 for v in raster)  # max 136+37 < 256
    assert dhash_bits(9, 8, 1, shifted) == _bands_from_row_bytes(ROWS_A)


def test_dhash_integer_upscale_invariance():
    """3x pixel replication (27x24): block means recover the original
    samples exactly, so the hash is unchanged."""
    raster = np.frombuffer(
        dhash_raster(ROWS_A), dtype=np.uint8
    ).reshape(8, 9)
    up = np.repeat(np.repeat(raster, 3, axis=0), 3, axis=1)
    assert dhash_bits(27, 24, 1, up.tobytes()) == _bands_from_row_bytes(
        ROWS_A
    )


def test_dhash_too_small_image_raises():
    with pytest.raises(ValueError, match="smaller than"):
        dhash_bits(4, 4, 1, bytes(16))


def test_dhash_reencoding_invariance_across_codecs(spark):
    """The same constant image encoded as PPM, BMP and PNG decodes to
    identical rasters and therefore identical (zero) hashes — the
    re-compression twin case, through the real Arrow map and three
    real decoders."""
    blobs = [
        (0, "image/ppm", encode_const_ppm(16, 12, (40, 90, 200))),
        (1, "image/bmp", encode_const_bmp(16, 12, (40, 90, 200))),
        (2, "image/png", encode_const_png(16, 12, (40, 90, 200))),
        (3, "image/pgm", encode_gray_pgm(9, 8, dhash_raster(ROWS_A))),
    ]
    media = spark.createDataFrame(
        blobs, ["media_id", "media_type", "content"]
    )
    rows = {r["media_id"]: r for r in image_dhash(media).collect()}
    const_bands = (rows[0]["b0"], rows[0]["b1"], rows[0]["b2"], rows[0]["b3"])
    assert const_bands == (0, 0, 0, 0)
    for mid in (1, 2):
        assert (
            rows[mid]["b0"], rows[mid]["b1"], rows[mid]["b2"], rows[mid]["b3"]
        ) == const_bands
        assert rows[mid]["dhash"] == rows[0]["dhash"]
    assert (
        rows[3]["b0"], rows[3]["b1"], rows[3]["b2"], rows[3]["b3"]
    ) == _bands_from_row_bytes(ROWS_A)


def _flip_member(row_bytes: list[int], m: int) -> list[int]:
    """Member m flips the low m bits of row 7 — pairwise hamming
    between members a and b is |a - b|."""
    out = list(row_bytes)
    out[7] ^= (1 << m) - 1
    return out


def test_dhash_pairs_planted_flips(spark):
    """Four variants of one image with controlled bit flips: every
    pair shares bands 0-2 (rows 0-5 untouched), candidate pairs are
    verified with the exact hamming distance |m1 - m2|, and the
    max_hamming filter cuts exactly where the construction says."""
    media = spark.createDataFrame(
        [
            (m, "image/pgm",
             encode_gray_pgm(9, 8, dhash_raster(_flip_member(ROWS_A, m))))
            for m in range(4)
        ],
        ["media_id", "media_type", "content"],
    )
    hashes = image_dhash(media)
    pairs = {
        (r["d1"], r["d2"]): r
        for r in dhash_near_dup_pairs(hashes, max_hamming=6).collect()
    }
    assert set(pairs) == {(a, b) for a in range(4) for b in range(a + 1, 4)}
    for (a, b), r in pairs.items():
        assert r["hamming"] == abs(a - b)
        assert r["n_shared_bands"] >= 3  # bands 0-2 always shared
    # a tight threshold drops exactly the distance-3 pair
    tight = {
        (r["d1"], r["d2"])
        for r in dhash_near_dup_pairs(hashes, max_hamming=2).collect()
    }
    assert tight == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)}


def test_hot_band_cap_drops_quadratic_buckets(spark):
    """60 constant-color images (all-zero hash, every band shared) at
    band_cap=50: the bucket is dropped BEFORE the self-join — no
    pairs, instead of 60·59/2 of them."""
    media = spark.createDataFrame(
        [(i, "image/ppm", encode_const_ppm(16, 12, (9, 9, 9)))
         for i in range(60)],
        ["media_id", "media_type", "content"],
    )
    hashes = image_dhash(media)
    assert dhash_near_dup_pairs(hashes, band_cap=50).count() == 0
    assert dhash_near_dup_pairs(hashes, band_cap=60).count() == 60 * 59 // 2


def test_incremental_matches_equal_batch_restriction(spark, tmp_path):
    """Increment-vs-index matching through the PERSISTED index equals
    the batch pair report restricted to (increment, corpus) pairs."""
    rows = []
    for g in range(6):
        base = [((g * 8 + r) * 37) % 256 for r in range(8)]
        for m in range(4):
            rows.append(
                (g * 4 + m, "image/pgm",
                 encode_gray_pgm(9, 8, dhash_raster(_flip_member(base, m)))))
    media = spark.createDataFrame(rows, ["media_id", "media_type", "content"])
    corpus = media.filter(F.col("media_id") % 4 != 0)
    inc = media.filter(F.col("media_id") % 4 == 0)

    path = str(tmp_path / "dhash_idx")
    build_dhash_index(corpus).write.parquet(path)
    index = spark.read.parquet(path)
    got = {
        (r["d_new"], r["d_corpus"], r["n_shared_bands"], r["hamming"])
        for r in dhash_matches_incremental(inc, index).collect()
    }
    batch = dhash_near_dup_pairs(image_dhash(media)).collect()
    want = set()
    inc_ids = {g * 4 for g in range(6)}
    for r in batch:
        for d_new, d_corpus in ((r["d1"], r["d2"]), (r["d2"], r["d1"])):
            if d_new in inc_ids and d_corpus not in inc_ids:
                want.add((d_new, d_corpus, r["n_shared_bands"], r["hamming"]))
    assert got == want and got


def test_rtbf_forgotten_media_never_matches_again(spark, tmp_path):
    """forget_index_rows closes over the dHash index too: after
    deletion, an EXACT copy of the forgotten image matches nothing."""
    from datawarehouse_code_spark.operators.corpus import forget_index_rows

    blobs = [
        (m, "image/pgm",
         encode_gray_pgm(9, 8, dhash_raster(_flip_member(ROWS_A, m))))
        for m in range(3)
    ]
    media = spark.createDataFrame(blobs, ["media_id", "media_type", "content"])
    path = str(tmp_path / "dhash_idx")
    build_dhash_index(media).write.parquet(path)

    copy_of_1 = spark.createDataFrame(
        [(99, "image/pgm",
          encode_gray_pgm(9, 8, dhash_raster(_flip_member(ROWS_A, 1))))],
        ["media_id", "media_type", "content"],
    )
    before = dhash_matches_incremental(
        copy_of_1, spark.read.parquet(path)
    ).collect()
    assert any(r["d_corpus"] == 1 and r["hamming"] == 0 for r in before)

    removed = forget_index_rows(
        spark, path, media.filter("media_id = 1"), id_col="media_id"
    )
    assert removed == 4  # one row per band
    after = dhash_matches_incremental(
        copy_of_1, spark.read.parquet(path)
    ).collect()
    assert not any(r["d_corpus"] == 1 for r in after)
    assert {r["d_corpus"] for r in after} == {0, 2}


# ------------------------------------------------------------------
# Audio fingerprints


def _wav(samples: list[int]) -> bytes:
    from datawarehouse_code_spark.operators.multimodal import encode_pcm_wav

    return encode_pcm_wav(8000, [samples])


def _base_samples(seed: int, n: int = 120) -> list[int]:
    return [((seed * 37 + i * 211) % 4096) - 2048 for i in range(n)]


def test_audio_fp_strings_match_independent_computation():
    """Fingerprints equal an independent hashlib/energy computation."""
    import hashlib

    import numpy as np

    s = np.array(_base_samples(3, 48), dtype=np.int32)
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_fp_strings,
    )

    got = audio_fp_strings(s, win=16, hop=8, gram=4, qshift=4)
    e = [sum(abs(int(v)) for v in s[w * 8: w * 8 + 16]) for w in range(5)]
    q = [x >> 4 for x in e]
    want = [
        hashlib.md5(" ".join(str(v) for v in q[g: g + 4]).encode()).hexdigest()
        for g in range(2)
    ]
    assert got == want


def test_audio_shifted_copy_shares_fingerprints(spark):
    """A copy shifted by whole hops shares every overlapping gram —
    the shift-robustness fixed framings lack; an unrelated signal
    shares nothing; sub-hop shifts are (documented) not matched."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_near_dup_pairs,
    )

    base = _base_samples(1, 144)
    rows = [
        (0, "audio/wav", _wav(base[:120])),
        (1, "audio/wav", _wav(base[8:128])),   # shifted one hop
        (2, "audio/wav", _wav(base[24:144])),  # shifted three hops
        (3, "audio/wav", _wav(_base_samples(99, 120))),  # unrelated
    ]
    media = spark.createDataFrame(rows, ["media_id", "media_type", "content"])
    pairs = {
        (r["d1"], r["d2"]): r["n_shared"]
        for r in audio_near_dup_pairs(media, min_shared=2).collect()
    }
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}
    # 120 samples -> 14 windows -> 11 grams; shift by k hops leaves
    # 11 - k shared gram values
    assert pairs[(0, 1)] == 10 and pairs[(1, 2)] == 9 and pairs[(0, 2)] == 8


def test_audio_hot_fp_cap(spark):
    """Digital silence shared by more media than the cap is dropped
    before the self-join."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_near_dup_pairs,
    )

    media = spark.createDataFrame(
        [(i, "audio/wav", _wav([0] * 120)) for i in range(10)],
        ["media_id", "media_type", "content"],
    )
    assert audio_near_dup_pairs(media, min_shared=1, hot_cap=5).count() == 0
    assert (
        audio_near_dup_pairs(media, min_shared=1, hot_cap=10).count()
        == 10 * 9 // 2
    )


def test_audio_incremental_matches_and_rtbf(spark, tmp_path):
    """Index build + increment matching finds the planted shifted
    copy at |increment| cost; forget_index_rows closes RTBF — after
    deletion an exact copy matches nothing."""
    from datawarehouse_code_spark.operators.corpus import forget_index_rows
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_matches_incremental,
        build_audio_fp_index,
    )

    base = _base_samples(7, 144)
    corpus = spark.createDataFrame(
        [
            (1, "audio/wav", _wav(base[:120])),
            (2, "audio/wav", _wav(_base_samples(55, 120))),
        ],
        ["media_id", "media_type", "content"],
    )
    path = str(tmp_path / "audio_idx")
    build_audio_fp_index(corpus).write.parquet(path)

    inc = spark.createDataFrame(
        [(10, "audio/wav", _wav(base[16:136]))],  # two hops shifted
        ["media_id", "media_type", "content"],
    )
    got = {
        (r["d_new"], r["d_corpus"]): r["n_shared"]
        for r in audio_matches_incremental(
            inc, spark.read.parquet(path)
        ).collect()
    }
    assert set(got) == {(10, 1)} and got[(10, 1)] == 9

    forget_index_rows(
        spark, path, corpus.filter("media_id = 1"), id_col="media_id"
    )
    exact_copy = spark.createDataFrame(
        [(11, "audio/wav", _wav(base[:120]))],
        ["media_id", "media_type", "content"],
    )
    assert (
        audio_matches_incremental(exact_copy, spark.read.parquet(path)).count()
        == 0
    )


# ------------------------------------------------------------------
# Quarantine fingerprint lanes


def test_quarantine_fingerprint_lanes(spark):
    """Corrupt payloads land in the quarantine columns instead of
    killing the job, healthy payloads fingerprint identically to the
    fail-loud variants, and the clean subsets agree exactly."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_fingerprints,
        audio_fingerprints_quarantine,
        image_dhash_quarantine,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        encode_video,
        video_fingerprints,
        video_fingerprints_quarantine,
    )

    img_rows = [
        (1, "image/pgm", encode_gray_pgm(9, 8, dhash_raster(ROWS_A))),
        (2, "image/bad", b"NOTANIMAGE" * 4),
        (3, "image/pgm", None),
    ]
    imgs = spark.createDataFrame(
        img_rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    rows = {r["media_id"]: r for r in image_dhash_quarantine(imgs).collect()}
    assert rows[1]["decode_error"] is None
    assert (rows[1]["b0"], rows[1]["b1"], rows[1]["b2"], rows[1]["b3"]) \
        == _bands_from_row_bytes(ROWS_A)
    assert rows[2]["decode_error"] and rows[2]["b0"] is None
    assert rows[3]["decode_error"] == "null payload"

    wav_rows = [
        (1, "audio/wav", _wav(_base_samples(5, 64))),
        (2, "audio/bad", b"XXXX-not-a-riff-stream"),
    ]
    wavs = spark.createDataFrame(
        wav_rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    q = audio_fingerprints_quarantine(wavs).collect()
    clean = {(r["media_id"], r["fp"]) for r in q if r["decode_error"] is None}
    want = {
        (r["media_id"], r["fp"])
        for r in audio_fingerprints(
            spark.createDataFrame(
                wav_rows[:1],
                "media_id BIGINT, media_type STRING, content BINARY",
            )
        ).collect()
    }
    assert clean == want and want
    assert any(r["media_id"] == 2 and r["fp"] is None and r["decode_error"]
               for r in q)

    vid_rows = [
        (1, "video/vid0",
         encode_video([encode_gray_pgm(9, 8, dhash_raster(ROWS_A))] * 3)),
        (2, "video/vid0", b"VID0" + b"\xff" * 8),  # lies about sizes
    ]
    vids = spark.createDataFrame(
        vid_rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    vq = video_fingerprints_quarantine(vids).collect()
    vclean = {(r["media_id"], r["fp"]) for r in vq if r["decode_error"] is None}
    vwant = {
        (r["media_id"], r["fp"])
        for r in video_fingerprints(
            spark.createDataFrame(
                vid_rows[:1],
                "media_id BIGINT, media_type STRING, content BINARY",
            )
        ).collect()
    }
    assert vclean == vwant and vwant
    assert any(r["media_id"] == 2 and r["fp"] is None and r["decode_error"]
               for r in vq)


def test_dhash_grid_contract_is_loud():
    """Non-default grids fail loudly instead of mis-packing (r12
    review fix): odd grids would drop the last row's bits; the
    DataFrame surface's band layout is fixed at grid=8."""
    with pytest.raises(ValueError, match="even"):
        dhash_bits(10, 7, 1, bytes(70), grid=7)


def test_image_dhash_rejects_non_default_grid(spark):
    media = spark.createDataFrame(
        [(1, "image/ppm", encode_const_ppm(20, 18, (1, 2, 3)))],
        "media_id BIGINT, media_type STRING, content BINARY",
    )
    with pytest.raises(ValueError, match="grid=8"):
        image_dhash(media, grid=16)


# ---------------------------------------------------------------- pHash

def _xblock_raster(seed: int, size: int = 32, scale: int = 1) -> bytes:
    """A size·scale × size·scale grayscale raster constant within each
    scale×scale block — block (y, x) holds bits 8-15 of the knuth hash
    of seed·1024 + y·32 + x — so the `scale`-fold box downscale of the
    raster recovers the base block values EXACTLY."""
    vals = [
        [
            ((((seed * 1024 + y * 32 + x) % 2**31) * 2654435761)
             % 2**32 >> 8) % 256
            for x in range(size)
        ]
        for y in range(size)
    ]
    out = bytearray()
    for y in range(size * scale):
        for x in range(size * scale):
            out.append(vals[y // scale][x // scale])
    return bytes(out)


def test_phash_downscale_invariance_is_exact():
    """The rescale envelope dHash excludes: a 2x box-downscaled twin
    (64x64 -> 32x32, the aligned bilinear case) pHashes IDENTICALLY —
    exact by construction, not approximately — while the same pair's
    dHashes differ (the 9-col grid slices the two sizes differently)."""
    from datawarehouse_code_spark.operators.media_dedup import phash_bits

    base = _xblock_raster(5, scale=1)
    big = _xblock_raster(5, scale=2)
    assert phash_bits(32, 32, 1, base) == phash_bits(64, 64, 1, big)
    # a different image really differs (the hash discriminates)
    assert phash_bits(32, 32, 1, base) != phash_bits(
        32, 32, 1, _xblock_raster(6)
    )


def test_phash_brightness_shift_flips_at_most_the_dc_bit():
    """A uniform brightness shift moves only the DC coefficient, and
    the DC is excluded from the threshold median — hamming ≤ 1."""
    from datawarehouse_code_spark.operators.media_dedup import phash_bits

    base = bytes(40 + (v * 11) // 16 for v in _xblock_raster(9))
    shifted = bytes(v + 20 for v in base)  # range [60, 235] — no clip
    a = phash_bits(32, 32, 1, base)
    b = phash_bits(32, 32, 1, shifted)
    hamming = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    assert hamming <= 1


def test_phash_reencode_invariance_and_band_machinery(spark):
    """image_phash through real codecs: a 1-channel PGM and a
    3-channel r=g=b PPM of the SAME raster hash identically, and the
    unchanged dHash band machinery (pairs with exact hamming) runs on
    the pHash table as documented."""
    from datawarehouse_code_spark.operators.media_dedup import image_phash

    base = _xblock_raster(3)
    ppm = b"P6\n32 32\n255\n" + bytes(
        v for px in base for v in (px, px, px)
    )
    media = spark.createDataFrame(
        [
            (1, "image/pgm", encode_gray_pgm(32, 32, base)),
            (2, "image/ppm", ppm),
            (3, "image/pgm", encode_gray_pgm(64, 64, _xblock_raster(3, scale=2))),
            (4, "image/pgm", encode_gray_pgm(32, 32, _xblock_raster(77))),
        ],
        "media_id BIGINT, media_type STRING, content BINARY",
    )
    hashes = image_phash(media)
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dhash_near_dup_pairs(hashes, max_hamming=6).collect()
    }
    assert pairs == {(1, 2): 0, (1, 3): 0, (2, 3): 0}


def test_phash_contract_is_loud(spark):
    from datawarehouse_code_spark.operators.media_dedup import (
        image_phash,
        phash_bits,
    )

    with pytest.raises(ValueError, match="smaller"):
        phash_bits(16, 16, 1, bytes(256))
    with pytest.raises(ValueError, match="even"):
        phash_bits(32, 32, 1, _xblock_raster(0), block=7)
    media = spark.createDataFrame(
        [(1, "image/pgm", encode_gray_pgm(32, 32, _xblock_raster(0)))],
        "media_id BIGINT, media_type STRING, content BINARY",
    )
    # the grid is NOT a parameter (r13 ADVICE: a size= knob that
    # raised on every value but 32 was dead API surface) — the band
    # schema pins PHASH_SIZE; phash_bits keeps the real parameter
    with pytest.raises(TypeError):
        image_phash(media, size=16)


def test_image_fingerprints_quarantine_combined(spark):
    """The one-decode combined map: on a healthy >=32px image its
    dHash columns equal image_dhash's and its pHash columns (via
    phash_view) equal image_phash's; a healthy image SMALLER than the
    32x32 pHash grid keeps dHash with pHash NULL and no error; a
    corrupt payload quarantines the whole row."""
    from datawarehouse_code_spark.operators.media_dedup import (
        image_fingerprints_quarantine,
        image_phash,
        phash_view,
    )

    media = spark.createDataFrame(
        [
            (1, "image/pgm", encode_gray_pgm(32, 32, _xblock_raster(3))),
            (2, "image/pgm",
             encode_gray_pgm(9, 8, dhash_raster(ROWS_A))),
            (3, "image/pgm", b"NOT AN IMAGE"),
        ],
        ["media_id", "media_type", "content"],
    )
    combined = image_fingerprints_quarantine(media).localCheckpoint()
    rows = {r["media_id"]: r for r in combined.collect()}

    healthy = media.filter("media_id <= 2")
    want_d = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"], r["dhash"])
              for r in image_dhash(healthy).collect()}
    got_d = {m: (r["b0"], r["b1"], r["b2"], r["b3"], r["dhash"])
             for m, r in rows.items() if m <= 2}
    assert got_d == want_d

    want_p = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"], r["phash"])
              for r in image_phash(media.filter("media_id = 1")).collect()}
    got_p = {r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"], r["dhash"])
             for r in phash_view(combined).collect()}
    assert set(got_p) == {1}
    assert got_p[1][:4] == want_p[1][:4]
    assert got_p[1][4] == want_p[1][4]

    assert rows[2]["phash"] is None and rows[2]["p0"] is None
    assert rows[2]["decode_error"] is None

    assert rows[3]["decode_error"] is not None
    assert rows[3]["dhash"] is None and rows[3]["phash"] is None
