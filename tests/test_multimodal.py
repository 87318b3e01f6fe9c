"""Multimodal plumbing tests: schema, batch shapes, one-to-many frame
explosion, determinism, and the decode stub's contract."""

from __future__ import annotations

import pytest

from datawarehouse_code_spark.operators.multimodal import (
    HAVE_PIL,
    decode_image,
    extract_features,
    media_from_documents,
    sample_frames,
)
from datawarehouse_code_spark.sources.catalog import read_table
from tests.conftest import SF_DIR


def _media(spark):
    return media_from_documents(read_table(spark, "documents", SF_DIR))


def test_media_schema(spark):
    media = _media(spark)
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "media_type": "string",
        "content": "binary",
        "meta_n_chars": "bigint",
    }


def test_extract_features_matches_bytes(spark):
    media = _media(spark)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    docs = {r["doc_id"]: r["text"] for r in
            read_table(spark, "documents", SF_DIR).collect()}
    assert len(feats) == len(docs)
    for doc_id, text in list(docs.items())[:25]:
        b = text.encode("utf-8")
        f = feats[doc_id]
        assert f["n_bytes"] == len(b)
        assert f["width"] == len(b) % 640
        assert f["height"] == (7 * len(b)) % 480
        assert f["checksum"] == sum(ord(c) for c in text[:64])


def test_sample_frames_one_to_many(spark):
    media = _media(spark).limit(20)
    frames = sample_frames(media, n_frames=4).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media) == 20
    for rows in by_media.values():
        assert 1 <= len(rows) <= 4
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == list(
            range(len(rows))
        )
        for r in rows:
            assert r["frame_len"] == len(r["frame_bytes"])


def test_decode_stub_contract():
    if not HAVE_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG...")


# --- pure-Python PNM decode (the real decode branch) ----------------


def test_decode_ppm_p6_with_comments_and_whitespace():
    from datawarehouse_code_spark.operators.multimodal import decode_image

    px = bytes([10, 20, 30, 40, 50, 60])  # 2x1 RGB
    data = b"P6\n# a comment\n 2 # trailing\n1\n# another\n255\n" + px
    w, h, ch, pixels = decode_image(data)
    assert (w, h, ch) == (2, 1, 3)
    assert pixels == px
    # channel de-interleave the caller does
    assert (sum(pixels[0::3]), sum(pixels[1::3]), sum(pixels[2::3])) == (50, 70, 90)


def test_decode_pgm_p5_grayscale():
    from datawarehouse_code_spark.operators.multimodal import decode_image

    data = b"P5 3 2 255 " + bytes([1, 2, 3, 4, 5, 6])
    w, h, ch, pixels = decode_image(data)
    assert (w, h, ch) == (3, 2, 1)
    assert sum(pixels) == 21


def test_decode_pnm_failures():
    import pytest

    from datawarehouse_code_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n2 2\n255\n\x00\x01")  # too few pixel bytes
    with pytest.raises(ValueError, match="maxval"):
        decode_image(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated PNM header"):
        decode_image(b"P6\n2")
    # PNG is a native branch since round 10 — a truncated stream is a
    # loud ValueError from the chunk walk, not a codec-library stub
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    # genuinely unknown magics: the codec-library stub raises
    # NotImplementedError without Pillow; with Pillow the fallback
    # rejects the unidentifiable payload as ValueError (corruption
    # contract) — both land in the quarantine lane
    from datawarehouse_code_spark.operators.multimodal import HAVE_PIL

    with pytest.raises(ValueError if HAVE_PIL else NotImplementedError):
        decode_image(b"GIF89a....")


def test_decoded_image_stats_roundtrip(spark):
    """Generate PPMs in Python, decode through the mapInPandas stage,
    check exact per-channel sums (incl. a NULL payload dropping out)."""
    from datawarehouse_code_spark.operators.multimodal import decoded_image_stats

    def ppm(w, h, r, g, b):
        return f"P6\n{w} {h}\n255\n".encode() + bytes([r, g, b]) * (w * h)

    rows = [
        (1, "image/x-portable-pixmap", ppm(4, 3, 9, 18, 27)),
        (2, "image/x-portable-pixmap", ppm(2, 2, 0, 255, 1)),
        (3, "image/x-portable-pixmap", None),
    ]
    media = spark.createDataFrame(
        rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    got = {r.media_id: r for r in decoded_image_stats(media).collect()}
    assert set(got) == {1, 2}
    assert (got[1].width, got[1].height) == (4, 3)
    assert (got[1].sum_r, got[1].sum_g, got[1].sum_b) == (108, 216, 324)
    assert (got[2].sum_r, got[2].sum_g, got[2].sum_b) == (0, 1020, 4)


def _bmp(w, h, rows_rgb, top_down=False):
    """Hand-built uncompressed 24-bit BMP: rows_rgb is h rows of w
    (r, g, b) tuples in IMAGE order (row 0 = top)."""
    import struct

    stride = (w * 3 + 3) & ~3
    pixel_data = bytearray()
    row_iter = rows_rgb if top_down else list(reversed(rows_rgb))
    for row in row_iter:
        for (r, g, b) in row:
            pixel_data += bytes([b, g, r])  # BGR on disk
        pixel_data += b"\x00" * (stride - w * 3)
    height_field = -h if top_down else h
    info = struct.pack("<IiiHHIIiiII", 40, w, height_field, 1, 24, 0,
                       len(pixel_data), 2835, 2835, 0, 0)
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data),
                              0, 0, 14 + 40)
    return bytes(file_header + info + pixel_data)


def test_decode_bmp_bottom_up_and_top_down():
    """Row order must come out in IMAGE order for both storage
    directions, channels swapped BGR->RGB, padding skipped."""
    from datawarehouse_code_spark.operators.multimodal import decode_image

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],   # top row: R G B
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)],
    ]
    for top_down in (False, True):
        w, h, c, px = decode_image(_bmp(3, 2, rows, top_down=top_down))
        assert (w, h, c) == (3, 2, 3)
        assert px[0:9] == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
        assert px[9:18] == bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])


def test_decode_bmp_failures():
    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        _decode_bmp,
        decode_image,
    )

    good = _bmp(2, 2, [[(1, 1, 1), (2, 2, 2)], [(3, 3, 3), (4, 4, 4)]])
    with pytest.raises(ValueError, match="truncated"):
        _decode_bmp(good[:-3])
    with pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp(b"XX" + good[2:])
    # 8-bit palette BMPs refuse loudly
    import struct

    bad = bytearray(good)
    struct.pack_into("<H", bad, 28, 8)
    with pytest.raises(ValueError, match="24-bit"):
        _decode_bmp(bytes(bad))
    # unknown-codec branch raises loudly (PNG is native since round
    # 10, so the probe magic is GIF now): NotImplementedError without
    # Pillow, ValueError when the Pillow fallback can't identify it
    from datawarehouse_code_spark.operators.multimodal import HAVE_PIL

    with pytest.raises(ValueError if HAVE_PIL else NotImplementedError):
        decode_image(b"GIF89a....")


def test_decoded_image_stats_mixed_pnm_bmp(spark):
    """The Arrow decode stage handles PNM and BMP payloads in the SAME
    batch — per-channel integer sums exact for both."""
    from datawarehouse_code_spark.operators.multimodal import decoded_image_stats

    def ppm(w, h, r, g, b):
        return f"P6\n{w} {h}\n255\n".encode() + bytes([r, g, b]) * (w * h)

    bmp_rows = [[(10, 20, 30), (40, 50, 60)]]
    rows = [
        (1, "image/x-portable-pixmap", ppm(2, 2, 5, 6, 7)),
        (2, "image/bmp", _bmp(2, 1, bmp_rows)),
    ]
    media = spark.createDataFrame(
        rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    got = {r.media_id: r for r in decoded_image_stats(media).collect()}
    assert (got[1].sum_r, got[1].sum_g, got[1].sum_b) == (20, 24, 28)
    assert (got[2].width, got[2].height) == (2, 1)
    assert (got[2].sum_r, got[2].sum_g, got[2].sum_b) == (50, 70, 90)


# ------------------------------------------------------ baseline JPEG decode


def _imageio_encode(jvm, w, h, pix_fn, gray=False, quality=1.0):
    """Encode via javax.imageio (the JVM's own JPEG writer) — a fully
    independent encoder for pinning the pure-Python decoder."""
    t = jvm.java.awt.image.BufferedImage
    bi = t(w, h, t.TYPE_BYTE_GRAY if gray else t.TYPE_INT_RGB)
    for y in range(h):
        for x in range(w):
            r, g, b = pix_fn(x, y)
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(float(quality))
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.flush()
    writer.dispose()
    return bytes(baos.toByteArray())


def _imageio_decode_rgb(jvm, data):
    bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(data))
    w, h = bi.getWidth(), bi.getHeight()
    px = []
    for y in range(h):
        for x in range(w):
            argb = bi.getRGB(x, y)
            px.append(((argb >> 16) & 255, (argb >> 8) & 255, argb & 255))
    return w, h, px


def test_jpeg_gray_roundtrip_exact_including_restarts():
    """Constant-gray baseline JPEG (all-ones quant table) decodes
    BIT-exactly — the property the decoded_image_stats oracle relies
    on — across dims that are/aren't multiples of 8 and with restart
    intervals exercising RST-marker alignment + predictor reset."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    for (w, h, v, ri) in [(8, 8, 0, 0), (8, 8, 255, 0), (13, 9, 77, 0),
                          (40, 24, 91, 2), (23, 17, 3, 1), (64, 8, 200, 5)]:
        W, H, C, px = decode_image(encode_gray_jpeg(w, h, v, restart_interval=ri))
        assert (W, H, C) == (w, h, 1)
        assert set(px) == {v}


def test_jpeg_decode_pinned_against_imageio(spark):
    """The pure-Python SOF0 decoder against javax.imageio as an
    INDEPENDENT party, both directions:
    (a) ImageIO-encoded constant color at q=1.0 -> our decode is the
        exact constant (4:2:0 subsampling of a constant is lossless);
    (b) ImageIO-encoded grayscale -> our 1-channel decode equals the
        raw raster exactly (raster, not getRGB — Java's TYPE_BYTE_GRAY
        getRGB applies a linear->sRGB gamma);
    (c) ImageIO-encoded smooth color gradients at several qualities ->
        our decode within a small tolerance of ImageIO's own decode
        (replication vs smooth chroma upsampling differs by a few
        code units on 4:2:0 streams — measured max 7, assert 16);
    (d) our encoder -> ImageIO's decoder reproduces the constant."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    jvm = spark._jvm

    # (a) constant color, exact
    data = _imageio_encode(jvm, 16, 12, lambda x, y: (100, 100, 100))
    W, H, C, px = decode_image(data)
    assert (W, H, C) == (16, 12, 3) and set(px) == {100}
    data = _imageio_encode(jvm, 10, 21, lambda x, y: (200, 200, 200))
    W, H, C, px = decode_image(data)
    assert (W, H) == (10, 21) and set(px) == {200}

    # (b) grayscale stream: compare against the raw raster
    data = _imageio_encode(jvm, 17, 11, lambda x, y: (0, 0, 0), gray=True)
    bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(data))
    raster = bi.getRaster()
    W, H, C, px = decode_image(data)
    assert (W, H, C) == (17, 11, 1)
    ours = [px[y * W + x] for y in range(H) for x in range(W)]
    ref = [raster.getSample(x, y, 0) for y in range(H) for x in range(W)]
    assert ours == ref

    # (c) smooth gradients, tolerance-pinned against ImageIO's decode
    def smooth(x, y):
        return (min(255, 40 + x * 6), min(255, 30 + y * 8),
                min(255, 60 + x * 2 + y * 3))

    for q in (1.0, 0.7):
        data = _imageio_encode(jvm, 24, 16, smooth, quality=q)
        W, H, C, px = decode_image(data)
        w2, h2, ref = _imageio_decode_rgb(jvm, data)
        assert (W, H, C) == (w2, h2, 3)
        diffs = [
            max(abs(px[3 * i + c] - ref[i][c]) for c in range(3))
            for i in range(W * H)
        ]
        assert max(diffs) <= 16 and sum(diffs) / len(diffs) <= 6, (
            q, max(diffs), sum(diffs) / len(diffs))

    # (d) our stream through ImageIO's decoder
    data = encode_gray_jpeg(13, 9, 77)
    bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(data))
    raster = bi.getRaster()
    vals = {raster.getSample(x, y, 0) for y in range(9) for x in range(13)}
    assert vals == {77}


def test_jpeg_decoder_rejects_unsupported_loudly():
    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    from datawarehouse_code_spark.operators.multimodal import (
        HAVE_PIL,
        _decode_jpeg,
    )

    data = bytearray(encode_gray_jpeg(8, 8, 50))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2  # pretend progressive
    # the PURE decoder always rejects non-baseline loudly; decode_image
    # only surfaces that when no Pillow fallback exists (with Pillow
    # the mislabeled stream routes there and fails its progressive
    # parse as ValueError — still loud, still quarantine-bound)
    with pytest.raises(NotImplementedError, match="non-baseline"):
        _decode_jpeg(bytes(data))
    if not HAVE_PIL:
        with pytest.raises(NotImplementedError, match="non-baseline"):
            decode_image(bytes(data))
    with pytest.raises(ValueError):
        decode_image(encode_gray_jpeg(8, 8, 50)[:-12])  # truncated entropy data


def test_jpeg_hostile_dimensions_rejected_before_allocation():
    """A crafted SOF0 header declaring huge dimensions must raise the
    quarantine-lane ValueError BEFORE any plane allocation — a 2-byte
    header field must not command GB-scale numpy buffers (the
    JPEG_MAX_PIXELS cap; r8 ADVICE)."""
    import resource

    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        JPEG_MAX_PIXELS,
        decode_image,
        encode_gray_jpeg,
    )

    data = bytearray(encode_gray_jpeg(8, 8, 50))
    sof = data.find(b"\xff\xc0")
    # SOF0 payload: len(2) precision(1) height(2) width(2) — declare
    # 32767 x 32767 ≈ 1.07e9 px, 16x past the cap
    data[sof + 5 : sof + 9] = (32767).to_bytes(2, "big") * 2
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with pytest.raises(ValueError, match="implausible JPEG dimensions"):
        decode_image(bytes(data))
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # rejection must not have grown the peak RSS by anything like the
    # ~8 GB the declared planes would need (ru_maxrss is KB on Linux)
    assert after - before < 1 << 20, (before, after)
    assert 32767 * 32767 > JPEG_MAX_PIXELS


def test_jpeg_single_component_scan_ignores_sampling_factors():
    """Review fix (r8): per ITU-T.81 A.2.2 a single-component scan is
    NON-interleaved — one block per MCU over ceil(w/8) x ceil(h/8) —
    regardless of the sampling factors the SOF declares.  A grayscale
    stream re-labeled h=v=2 (some encoders do this when stripping
    chroma) must decode identically on non-multiple-of-16 dims."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    for (w, h, v) in [(13, 9, 77), (20, 12, 200), (8, 8, 5)]:
        data = bytearray(encode_gray_jpeg(w, h, v))
        sof = data.find(b"\xff\xc0")
        assert data[sof + 11] == 0x11
        data[sof + 11] = 0x22  # declare 2x2 sampling on the only comp
        W, H, C, px = decode_image(bytes(data))
        assert (W, H, C) == (w, h, 1) and set(px) == {v}


def test_jpeg_unexpected_restart_marker_raises_valueerror():
    """Review fix (r8): a restart marker the decoder wasn't told about
    (DRI stripped from a restart-coded stream) must surface as the
    loud ValueError, not the internal control-flow exception."""
    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    data = bytearray(encode_gray_jpeg(40, 24, 91, restart_interval=1))
    dri = data.find(b"\xff\xdd")
    assert dri > 0
    del data[dri : dri + 6]  # strip the DRI segment, keep the RSTs
    with pytest.raises(ValueError, match="restart marker"):
        decode_image(bytes(data))


def test_jpeg_decoder_corruption_fuzz():
    """Worker-safety contract under arbitrary corruption: for ANY
    single-byte mutation or truncation of a valid stream, decode_image
    either succeeds (returning a well-formed tuple) or raises
    ValueError / NotImplementedError — never an IndexError, KeyError,
    struct.error, or internal control-flow exception that would
    surface as a bare crash out of an Arrow worker.  Deterministic
    seeded sweep, small image => bounded runtime."""
    import random

    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_gray_jpeg,
    )

    base = encode_gray_jpeg(24, 16, 130, restart_interval=2)
    rng = random.Random(42)
    trials = []
    # every truncation point (small stream), then 300 random byte flips
    trials += [base[:i] for i in range(1, len(base))]
    for _ in range(300):
        i = rng.randrange(len(base))
        b = bytearray(base)
        b[i] = rng.randrange(256)
        trials.append(bytes(b))
    n_ok = n_raised = 0
    for payload in trials:
        try:
            w, h, c, px = decode_image(payload)
            assert isinstance(px, bytes) and len(px) == w * h * c
            n_ok += 1
        except (ValueError, NotImplementedError):
            n_raised += 1
    # the sweep must exercise both outcomes (some flips hit pixel data
    # harmlessly or inside padded bits; most break structure)
    assert n_ok > 0 and n_raised > 0


def test_decoded_image_stats_quarantine_lane(spark):
    """One bad payload must not kill the job: corrupt/truncated/NULL
    payloads land in the quarantine lane with the decoder's message,
    good payloads decode to stats identical to the fail-loud variant,
    and every input yields exactly one row."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.multimodal import (
        decoded_image_stats,
        decoded_image_stats_quarantine,
        encode_const_bmp,
        encode_gray_jpeg,
    )

    good_jpeg = encode_gray_jpeg(10, 6, 40)
    good_bmp = encode_const_bmp(4, 3, (1, 2, 3))
    rows = [
        (1, "image/jpeg", bytearray(good_jpeg)),
        (2, "image/bmp", bytearray(good_bmp)),
        (3, "image/jpeg", bytearray(good_jpeg[:-8])),   # truncated
        (4, "application/x-unknown", bytearray(b"\x00\x01\x02")),
        (5, "image/jpeg", None),                        # null payload
    ]
    media = spark.createDataFrame(
        rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    got = {r["media_id"]: r for r in decoded_image_stats_quarantine(media).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["decode_error"] is None
    assert (got[1]["width"], got[1]["height"], got[1]["sum_r"]) == (10, 6, 10 * 6 * 40)
    assert got[2]["decode_error"] is None and got[2]["sum_g"] == 4 * 3 * 2
    from datawarehouse_code_spark.operators.multimodal import HAVE_PIL

    assert got[3]["decode_error"] and got[3]["width"] is None
    assert got[4]["decode_error"].startswith(
        "ValueError" if HAVE_PIL else "NotImplementedError"
    )
    assert got[5]["decode_error"] == "null payload"

    # agreement with the fail-loud variant on the clean subset
    clean = media.filter(F.col("media_id").isin(1, 2))
    a = sorted(tuple(r) for r in decoded_image_stats(clean).collect())
    b = sorted(
        tuple(r)[:-1]
        for r in decoded_image_stats_quarantine(clean).collect()
    )
    assert a == b


# ----------------------------------------------------------- PNG branch


def test_png_const_roundtrip():
    """encode_const_png → _decode_png: exact dimensions, channel
    count, and interleaved pixel bytes."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_const_png,
    )

    w, h, rgb = 7, 5, (11, 222, 3)
    got = decode_image(encode_const_png(w, h, rgb))
    assert got == (w, h, 3, bytes(rgb) * (w * h))


def _png_filter_forward(ref_rows, ch, filters):
    """Apply PNG filters FORWARD (encoder side) to reference scanlines
    — the test's independent construction for pinning the decoder's
    reconstruction of every filter type."""
    out = bytearray()
    stride = len(ref_rows[0])
    for y, f in enumerate(filters):
        row = ref_rows[y]
        prev = ref_rows[y - 1] if y else bytes(stride)
        out.append(f)
        for i in range(stride):
            a = row[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = row[i]
            elif f == 1:
                v = row[i] - a
            elif f == 2:
                v = row[i] - b
            elif f == 3:
                v = row[i] - ((a + b) >> 1)
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = row[i] - pred
            out.append(v & 0xFF)
    return bytes(out)


def _png_chunks(*chunks):
    import struct
    import zlib

    out = b"\x89PNG\r\n\x1a\n"
    for ctype, body in chunks:
        out += (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )
    return out


def test_png_all_filter_types_reconstruct_exactly():
    """Each of the five filter types (None/Sub/Up/Average/Paeth),
    applied forward by the test to a deterministic gradient, must
    reconstruct the reference scanlines bit-exactly — including the
    left/up/corner edge conventions at row 0 and column 0."""
    import struct
    import zlib

    from datawarehouse_code_spark.operators.multimodal import decode_image

    w, h, ch = 6, 5, 3
    ref = [
        bytes(((x * 37 + y * 91 + c * 53) % 256)
              for x in range(w) for c in range(ch))
        for y in range(h)
    ]
    raw = _png_filter_forward(ref, ch, [0, 1, 2, 3, 4])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = _png_chunks(
        (b"IHDR", ihdr), (b"IDAT", zlib.compress(raw)), (b"IEND", b"")
    )
    got = decode_image(data)
    assert got == (w, h, 3, b"".join(ref))


def test_png_palette_grayalpha_rgba_channels():
    """Palette PNGs expand through PLTE to 3 channels; gray+alpha and
    RGBA keep their stored channel counts, and _payload_stats ignores
    the alpha plane."""
    import struct
    import zlib

    from datawarehouse_code_spark.operators.multimodal import (
        _payload_stats,
        decode_image,
    )

    # palette: 2x2, entries [red, green, blue]
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))
    raw = b"\x00" + bytes((0, 1)) + b"\x00" + bytes((2, 0))
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)),
        (b"PLTE", plte),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )
    assert decode_image(data) == (
        2, 2, 3,
        bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0)),
    )

    # gray+alpha 2x1: (g=10,a=200), (g=30,a=40) — stats use gray only
    raw = b"\x00" + bytes((10, 200, 30, 40))
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 4, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )
    assert decode_image(data) == (2, 1, 2, bytes((10, 200, 30, 40)))
    assert _payload_stats(data) == (2, 1, 40, 40, 40)

    # RGBA 1x2 — stats exclude alpha
    raw = (b"\x00" + bytes((1, 2, 3, 100))) + (b"\x00" + bytes((4, 5, 6, 7)))
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 1, 2, 8, 6, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )
    assert decode_image(data) == (1, 2, 4, bytes((1, 2, 3, 100, 4, 5, 6, 7)))
    assert _payload_stats(data) == (1, 2, 5, 7, 9)


def test_png_rejects_unsupported_and_hostile_loudly():
    import struct
    import zlib

    import pytest

    from datawarehouse_code_spark.operators.multimodal import decode_image

    def build(w=2, h=2, depth=8, ctype=0, interlace=0, raw=None, crc_break=False):
        if raw is None:
            stride = w * {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
            raw = (b"\x00" + bytes(stride)) * h
        data = _png_chunks(
            (b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)),
            (b"IDAT", zlib.compress(raw)),
            (b"IEND", b""),
        )
        if crc_break:
            data = bytearray(data)
            data[20] ^= 0xFF  # inside the IHDR CRC coverage
            data = bytes(data)
        return data

    from datawarehouse_code_spark.operators.multimodal import (
        HAVE_PIL,
        _decode_png,
    )

    # the PURE decoder always routes Adam7/16-bit to quarantine;
    # decode_image surfaces that only when no Pillow fallback exists
    with pytest.raises(NotImplementedError, match="Adam7"):
        _decode_png(build(interlace=1))
    with pytest.raises(NotImplementedError, match="8-bit"):
        _decode_png(build(depth=16))
    if not HAVE_PIL:
        with pytest.raises(NotImplementedError, match="Adam7"):
            decode_image(build(interlace=1))
        with pytest.raises(NotImplementedError, match="8-bit"):
            decode_image(build(depth=16))
    with pytest.raises(ValueError, match="CRC"):
        decode_image(build(crc_break=True))
    with pytest.raises(ValueError, match="color type"):
        decode_image(build(ctype=5, raw=b"\x00"))
    with pytest.raises(ValueError, match="palette index"):
        # index 7 with no PLTE entries → missing PLTE fires first; add one
        raw = b"\x00" + bytes((7,)) + b"\x00" + bytes((0,))
        data = _png_chunks(
            (b"IHDR", struct.pack(">IIBBBBB", 1, 2, 8, 3, 0, 0, 0)),
            (b"PLTE", bytes(3)),
            (b"IDAT", zlib.compress(raw)),
            (b"IEND", b""),
        )
        decode_image(data)
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_image(build(ctype=3))
    with pytest.raises(ValueError, match="missing IEND"):
        decode_image(build()[:-12])
    with pytest.raises(ValueError, match="first chunk"):
        decode_image(_png_chunks((b"IDAT", b""), (b"IEND", b"")))


def test_png_hostile_dimensions_and_bombs_bounded():
    """A crafted IHDR must not command GB-scale allocations, and an
    IDAT decompression bomb must stop at the declared scanline volume
    — both the quarantine lane's pre-allocation guarantees."""
    import struct
    import time
    import zlib

    import pytest

    from datawarehouse_code_spark.operators.multimodal import decode_image

    # 2^16 x 2^16 = 2^32 pixels > the 2^26 cap: rejected from the
    # header alone, fast
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 2, 0, 0, 0)),
        (b"IDAT", zlib.compress(b"")),
        (b"IEND", b""),
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="oversized"):
        decode_image(data)
    assert time.perf_counter() - t0 < 0.5

    # bomb: 64 MB of zeros behind a 2x2 header — the bounded inflate
    # must stop at expected+1 bytes and reject
    bomb = zlib.compress(bytes(1 << 26))
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)),
        (b"IDAT", bomb),
        (b"IEND", b""),
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="exceeds"):
        decode_image(data)
    assert time.perf_counter() - t0 < 0.5


def test_png_stream_termination_and_chunk_order_strictness():
    """The checks chunk CRCs cannot see: a deflate stream cleanly cut
    after EXACTLY the scanline volume (decodes byte-complete but never
    terminates), trailing bytes after the Adler-32 trailer, and the
    spec-mandated ordering rules — PLTE after IDAT, duplicate PLTE,
    PLTE on grayscale, non-consecutive IDAT runs (RFC 2083 §4.1/§10).
    Every rejection is a ValueError, i.e. lands in the quarantine
    lane, and the equivalent well-formed stream still decodes."""
    import struct
    import zlib

    import pytest

    from datawarehouse_code_spark.operators.multimodal import decode_image

    ihdr_rgb = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = b"\x00" + bytes(6) + b"\x00" + bytes(6)  # 2x2 RGB zeros
    z = zlib.compress(raw)

    # well-formed baseline decodes
    ok = _png_chunks((b"IHDR", ihdr_rgb), (b"IDAT", z), (b"IEND", b""))
    assert decode_image(ok) == (2, 2, 3, bytes(12))

    # IDAT split across two CONSECUTIVE chunks is legal
    split = _png_chunks(
        (b"IHDR", ihdr_rgb), (b"IDAT", z[:5]), (b"IDAT", z[5:]),
        (b"IEND", b""),
    )
    assert decode_image(split) == (2, 2, 3, bytes(12))

    # truncated deflate that still yields every pixel byte: compress
    # without the stream-end block by using a raw deflater flush —
    # cut the stream right after a Z_FULL_FLUSH of the full payload
    co = zlib.compressobj()
    cut = co.compress(raw) + co.flush(zlib.Z_FULL_FLUSH)
    data = _png_chunks((b"IHDR", ihdr_rgb), (b"IDAT", cut), (b"IEND", b""))
    with pytest.raises(ValueError, match="not terminated"):
        decode_image(data)

    # trailing garbage after the zlib trailer inside IDAT
    data = _png_chunks(
        (b"IHDR", ihdr_rgb), (b"IDAT", z + b"\x99\x99"), (b"IEND", b"")
    )
    with pytest.raises(ValueError, match="trailing garbage"):
        decode_image(data)

    # non-consecutive IDAT chunks (ancillary chunk splits the run)
    data = _png_chunks(
        (b"IHDR", ihdr_rgb), (b"IDAT", z[:5]), (b"tEXt", b"k\x00v"),
        (b"IDAT", z[5:]), (b"IEND", b""),
    )
    with pytest.raises(ValueError, match="non-consecutive IDAT"):
        decode_image(data)

    plte = bytes((255, 0, 0, 0, 255, 0))
    ihdr_pal = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    zpal = zlib.compress(b"\x00" + bytes((0, 1)) + b"\x00" + bytes((1, 0)))

    # PLTE after the first IDAT
    data = _png_chunks(
        (b"IHDR", ihdr_pal), (b"IDAT", zpal), (b"PLTE", plte),
        (b"IEND", b""),
    )
    with pytest.raises(ValueError, match="PLTE chunk after IDAT"):
        decode_image(data)

    # duplicate PLTE
    data = _png_chunks(
        (b"IHDR", ihdr_pal), (b"PLTE", plte), (b"PLTE", plte),
        (b"IDAT", zpal), (b"IEND", b""),
    )
    with pytest.raises(ValueError, match="duplicate PLTE"):
        decode_image(data)

    # PLTE on a grayscale color type
    ihdr_gray = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    zg = zlib.compress(b"\x00" + bytes(2) + b"\x00" + bytes(2))
    data = _png_chunks(
        (b"IHDR", ihdr_gray), (b"PLTE", plte), (b"IDAT", zg),
        (b"IEND", b""),
    )
    with pytest.raises(ValueError, match="forbidden for grayscale"):
        decode_image(data)


def test_pillow_fallback_parity_and_routing():
    """Pillow-state pin (mirrors the avro/Delta probe precedent: this
    test SKIPS in the shipped container and activates if the
    environment ever gains the package).  Pins (a) exact byte parity
    between _decode_pillow and the pure-Python PNG decoder on their
    supported overlap, (b) that a progressive JPEG — which the pure
    decoder routes to quarantine — decodes through the fallback with
    the right dimensions, and (c) that corruption stays ValueError
    (Pillow never rescues a damaged stream into the clean lane)."""
    import io

    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        HAVE_PIL,
        _decode_jpeg,
        _decode_pillow,
        _decode_png,
        decode_image,
        encode_const_png,
    )

    if not HAVE_PIL:
        pytest.skip("Pillow not installed — fallback path unreachable")

    from PIL import Image

    # (a) supported-overlap parity: pure decoder vs Pillow, byte-exact
    data = encode_const_png(6, 4, (200, 10, 77))
    assert _decode_pillow(data) == _decode_png(data)

    # (b) progressive JPEG: pure decoder quarantines, fallback decodes
    img = Image.new("L", (16, 12), 80)
    buf = io.BytesIO()
    img.save(buf, "JPEG", progressive=True, quality=95)
    prog = buf.getvalue()
    with pytest.raises(NotImplementedError):
        _decode_jpeg(prog)
    w, h, ch, px = decode_image(prog)
    assert (w, h, ch) == (16, 12, 1) and len(px) == 16 * 12

    # (c) corruption is ValueError on the fallback path too
    with pytest.raises(ValueError):
        decode_image(b"GIF89a....")


def test_pillow_preferred_hash_parity(monkeypatch):
    """The probe-and-PREFER branch (r13 verdict ask #7, the
    avro/Delta probe precedent — SKIPS in the shipped container,
    activates when the environment gains Pillow): with
    PREFER_PILLOW routing every payload through the codec library,
    dHash AND DCT-pHash over the Pillow-decoded rasters are
    BYTE-IDENTICAL to the pure-Python decoders' on the lossless
    formats (PGM, varied multi-filter PNG), so flipping a deploy to
    SPARK_GRAFT_PREFER_PILLOW=1 preserves every perceptual index
    built from lossless payloads.  Also pins the routing itself:
    under the preferred regime decode_image returns the exact
    Pillow tuple."""
    import struct
    import zlib

    from datawarehouse_code_spark.operators import multimodal
    from datawarehouse_code_spark.operators.media_dedup import (
        dhash_bits,
        phash_bits,
    )
    from datawarehouse_code_spark.operators.multimodal import (
        HAVE_PIL,
        _decode_pillow,
        _decode_png,
        _decode_pnm,
        decode_image,
        encode_gray_pgm,
    )

    if not HAVE_PIL:
        pytest.skip("Pillow not installed — preferred path unreachable")

    # 36x34 varied gray PGM (>=32x32 so pHash has a grid)
    w, h = 36, 34
    raster = bytes(((x * 37 + y * 91) % 256) for y in range(h) for x in range(w))
    pgm = encode_gray_pgm(w, h, raster)
    # 36x34 varied RGB PNG through all five filter types
    ref = [
        bytes(((x * 29 + y * 53 + c * 17) % 256)
              for x in range(w) for c in range(3))
        for y in range(h)
    ]
    raw = _png_filter_forward(ref, 3, [0, 1, 2, 3, 4] * 7)
    png = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )

    for data, pure in ((pgm, _decode_pnm), (png, _decode_png)):
        a = pure(data)
        b = _decode_pillow(data)
        assert a == b  # raster byte parity on the lossless overlap
        assert dhash_bits(*a) == dhash_bits(*b)
        assert phash_bits(*a) == phash_bits(*b)

    # routing pin: the preferred regime serves the Pillow tuple
    monkeypatch.setattr(multimodal, "PREFER_PILLOW", True)
    assert decode_image(png) == _decode_pillow(png)


def test_png_corruption_fuzz():
    """Same worker-safety sweep as the JPEG fuzz: every truncation
    point and 300 seeded byte flips of a valid multi-filter PNG either
    decode to a well-formed tuple or raise ValueError /
    NotImplementedError — never a bare internal exception."""
    import random
    import struct
    import zlib

    from datawarehouse_code_spark.operators.multimodal import decode_image

    w, h, ch = 6, 5, 3
    ref = [
        bytes(((x * 37 + y * 91 + c * 53) % 256)
              for x in range(w) for c in range(ch))
        for y in range(h)
    ]
    raw = _png_filter_forward(ref, ch, [0, 1, 2, 3, 4])
    base = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )
    assert decode_image(base)[:3] == (w, h, 3)  # the untouched stream decodes
    rng = random.Random(42)
    trials = [base[:i] for i in range(1, len(base))]
    for _ in range(300):
        i = rng.randrange(len(base))
        b = bytearray(base)
        v = rng.randrange(256)
        if v == b[i]:
            v ^= 1
        b[i] = v
        trials.append(bytes(b))
    # PNG is STRICTER than the JPEG sweep: per-chunk CRC coverage means
    # every truncation and every effective single-byte flip must be
    # DETECTED (ValueError / NotImplementedError), not survived — a
    # trial that decodes means a gap in chunk-walk validation
    for payload in trials:
        try:
            decode_image(payload)
        except (ValueError, NotImplementedError):
            continue
        raise AssertionError(
            f"corrupted stream decoded silently (len {len(payload)})"
        )


def test_png_decode_pinned_against_imageio(spark):
    """The pure-Python PNG decoder against javax.imageio as a fully
    independent ENCODER (the JPEG doctrine): the JVM's PNGImageWriter
    picks its own filters per row, so a gradient image exercises the
    encoder's real filter selection, not just the filter-0 path of
    encode_const_png.  Covered: truecolor gradient, RGBA with varying
    alpha, 8-bit grayscale (raster samples, not getRGB — the
    linear→sRGB gamma trap), and indexed/palette.  Plus the reverse
    pin: encode_const_png read back by ImageIO."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_image,
        encode_const_png,
    )

    jvm = spark._jvm
    t = jvm.java.awt.image.BufferedImage

    def write_png(bi):
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(bi, "png", baos)
        return bytes(baos.toByteArray())

    # truecolor gradient → color type 2
    w, h = 9, 7
    bi = t(w, h, t.TYPE_INT_RGB)
    ref = []
    for y in range(h):
        for x in range(w):
            r, g, b = (x * 29) % 256, (y * 53) % 256, (x * y * 11) % 256
            bi.setRGB(x, y, (r << 16) | (g << 8) | b)
            ref += [r, g, b]
    assert decode_image(write_png(bi)) == (w, h, 3, bytes(ref))

    # RGBA with varying alpha → color type 6
    bi = t(5, 4, t.TYPE_INT_ARGB)
    ref = []
    for y in range(4):
        for x in range(5):
            r, g, b, a = (x * 61) % 256, (y * 97) % 256, (x + y) % 256, (x * 41 + y * 7) % 256
            argb = (a << 24) | (r << 16) | (g << 8) | b
            # py4j promotes >= 2^31 to Long; setRGB wants a signed int
            bi.setRGB(x, y, argb - (1 << 32) if argb >= (1 << 31) else argb)
            ref += [r, g, b, a]
    assert decode_image(write_png(bi)) == (5, 4, 4, bytes(ref))

    # grayscale via raw raster samples → color type 0
    bi = t(8, 6, t.TYPE_BYTE_GRAY)
    raster = bi.getRaster()
    ref = []
    for y in range(6):
        for x in range(8):
            v = (x * 31 + y * 17) % 256
            raster.setSample(x, y, 0, v)
            ref.append(v)
    assert decode_image(write_png(bi)) == (8, 6, 1, bytes(ref))

    # indexed/palette → color type 3, expanded to the palette's RGB
    bi = t(6, 3, t.TYPE_BYTE_INDEXED)
    ref = []
    for y in range(3):
        for x in range(6):
            bi.setRGB(x, y, ((x * 51) << 16) | ((y * 85) << 8) | 128)
    for y in range(3):
        for x in range(6):
            argb = bi.getRGB(x, y)  # the palette entry actually stored
            ref += [(argb >> 16) & 255, (argb >> 8) & 255, argb & 255]
    got = decode_image(write_png(bi))
    assert got == (6, 3, 3, bytes(ref))

    # reverse direction: our encoder, ImageIO's decoder
    data = encode_const_png(4, 3, (200, 10, 77))
    bi = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(data)
    )
    assert bi.getWidth() == 4 and bi.getHeight() == 3
    for y in range(3):
        for x in range(4):
            assert bi.getRGB(x, y) & 0xFFFFFF == (200 << 16) | (10 << 8) | 77


def test_wav_roundtrip_and_failures():
    """RIFF/WAVE PCM decode: bit-exact roundtrip both widths and
    channel layouts; the loud-failure contract for every structural
    corruption and every unsupported-codec route."""
    import struct

    import pytest

    from datawarehouse_code_spark.operators.multimodal import (
        decode_audio,
        encode_pcm_wav,
    )

    ch0 = [0, 100, -200, 32767, -32768, 5]
    ch1 = [1, -1, 2, -2, 3, -3]
    w = encode_pcm_wav(44100, [ch0, ch1])
    r, nc, nf, arr = decode_audio(w)
    assert (r, nc, nf) == (44100, 2, 6)
    assert arr[:, 0].tolist() == ch0 and arr[:, 1].tolist() == ch1

    w8 = encode_pcm_wav(8000, [[0, 128, 255, 1]], bits=8)
    assert decode_audio(w8)[3][:, 0].tolist() == [-128, 0, 127, -127]

    with pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_audio(b"OggS" + bytes(40))
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_audio(w[:30])
    # full fmt chunk, no data chunk (fmt spans bytes 12..40 of the
    # canonical encoder layout: 8-byte header + 16-byte body)
    with pytest.raises(ValueError, match="missing data"):
        decode_audio(w[: 12 + 8 + 16])
    with pytest.raises(ValueError, match="missing fmt"):
        decode_audio(
            b"RIFF" + struct.pack("<I", 12) + b"WAVE"
            + b"data" + struct.pack("<I", 0)
        )
    # non-PCM codec and unsupported depth route to quarantine loudly
    bad = bytearray(w)
    fmtpos = w.find(b"fmt ") + 8
    struct.pack_into("<H", bad, fmtpos, 3)  # IEEE float
    with pytest.raises(NotImplementedError, match="PCM"):
        decode_audio(bytes(bad))
    bad = bytearray(w)
    struct.pack_into("<H", bad, fmtpos + 14, 24)  # 24-bit
    with pytest.raises(NotImplementedError, match="8/16-bit"):
        decode_audio(bytes(bad))
    # data not a whole number of frames
    bad = bytearray(w)
    dpos = w.find(b"data") + 4
    (dlen,) = struct.unpack_from("<I", w, dpos)
    struct.pack_into("<I", bad, dpos, dlen - 1)
    with pytest.raises(ValueError, match="whole number"):
        decode_audio(bytes(bad[:-1]))
    # hostile declared sizes never allocate: a fake giant data chunk
    # is caught as truncation before any frame math
    giant = w[: w.find(b"data") + 4] + struct.pack("<I", 1 << 31)
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_audio(giant)


def test_wav_corruption_fuzz():
    """Every single-byte flip and every truncation of a valid WAV
    either decodes or raises ValueError/NotImplementedError — never a
    bare struct.error/IndexError out of an Arrow worker."""
    from datawarehouse_code_spark.operators.multimodal import (
        decode_audio,
        encode_pcm_wav,
    )

    base = encode_pcm_wav(16000, [[(i * 311) % 4096 - 2048 for i in range(9)]])
    for cut in range(len(base)):
        try:
            decode_audio(base[:cut])
        except (ValueError, NotImplementedError):
            pass
    for pos in range(len(base)):
        for delta in (1, 128):
            mutated = bytearray(base)
            mutated[pos] = (mutated[pos] + delta) % 256
            try:
                decode_audio(bytes(mutated))
            except (ValueError, NotImplementedError):
                pass


def test_decoded_audio_stats_quarantine(spark):
    """Audio quarantine lane: every payload yields exactly one row;
    clean WAVs carry stats identical to the fail-loud variant,
    corrupt/unsupported/NULL payloads carry the decoder's message."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.multimodal import (
        decoded_audio_stats,
        decoded_audio_stats_quarantine,
        encode_pcm_wav,
    )

    good = encode_pcm_wav(22050, [[5, -5, 7, -7, 0]])
    rows = [
        (1, "audio/wav", bytearray(good)),
        (2, "audio/wav", bytearray(good[:15])),     # truncated
        (3, "audio/ogg", bytearray(b"OggS\x00\x01")),
        (4, "audio/wav", None),
    ]
    media = spark.createDataFrame(
        rows, "media_id BIGINT, media_type STRING, content BINARY"
    )
    got = {
        r["media_id"]: r
        for r in decoded_audio_stats_quarantine(media).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["decode_error"] is None
    assert (got[1]["sample_rate"], got[1]["n_frames"]) == (22050, 5)
    assert got[1]["sum_abs"] == 24 and got[1]["peak_abs"] == 7
    assert got[1]["n_zero_cross"] == 4  # 5,-5,7,-7,0: neg flags F T F T F
    assert got[2]["decode_error"] and got[2]["sum_abs"] is None
    assert got[3]["decode_error"].startswith("ValueError")
    assert got[4]["decode_error"] == "null payload"

    clean = media.filter(F.col("media_id") == 1)
    a = [tuple(r) for r in decoded_audio_stats(clean).collect()]
    b = [tuple(r)[:-1] for r in decoded_audio_stats_quarantine(clean).collect()]
    assert a == b


def test_wav_g711_expansion():
    """G.711 mu-law/A-law WAVs decode through the exact ITU integer
    LUTs: published table anchors (mu-law 0x00 -> -32124, 0xFF -> 0;
    A-law 0x55 -> -8, 0xD5 -> +8), sign antisymmetry of the byte's
    sign bit, and segment monotonicity."""
    import struct

    from datawarehouse_code_spark.operators.multimodal import (
        decode_audio,
        encode_pcm_wav,
    )

    def g711_wav(codec, payload_bytes):
        w = bytearray(encode_pcm_wav(8000, [list(payload_bytes)], bits=8))
        struct.pack_into("<H", w, w.find(b"fmt ") + 8, codec)
        return bytes(w)

    # mu-law anchors + full-byte sweep properties
    r, nc, nf, arr = decode_audio(g711_wav(7, bytes(range(256))))
    assert (r, nc, nf) == (8000, 1, 256)
    ulaw = arr[:, 0].tolist()
    assert ulaw[0x00] == -32124 and ulaw[0xFF] == 0
    # 0x7F is mu-law's second zero code (negative half's zero)
    assert ulaw[0x7F] == 0 and ulaw[0x80] == 32124
    # byte b (negative half) and b|0x80 (positive half) are negatives
    for b in range(128):
        assert ulaw[b] == -ulaw[b | 0x80]
    # magnitudes decrease along each half toward the zero codes
    mags = [-v for v in ulaw[:128]]
    assert mags == sorted(mags, reverse=True)

    # A-law anchors + antisymmetry
    arr = decode_audio(g711_wav(6, bytes(range(256))))[3]
    alaw = arr[:, 0].tolist()
    assert alaw[0x55] == -8 and alaw[0xD5] == 8
    assert min(alaw) == -32256 and max(alaw) == 32256
    for b in range(256):
        assert alaw[b] == -alaw[b ^ 0x80]


def test_png_wavefront_unfilter_long_runs_exact():
    """Long same-filter runs route through the anti-diagonal wavefront
    (_png_unfilter_wavefront, r12): all-Average and all-Paeth images
    plus a mixed stream with runs straddling the scalar/wavefront cut
    (runs of 3, 4 and 17 rows) must reconstruct pseudo-random
    reference scanlines bit-exactly — the forward filtering is done
    test-side, independently of the decoder."""
    import struct
    import zlib

    from datawarehouse_code_spark.operators.multimodal import decode_image

    w, h, ch = 13, 24, 3

    def ref_rows(seed):
        return [
            bytes(((x * 151 + y * 83 + c * 29 + seed * 7919) % 256)
                  for x in range(w) for c in range(ch))
            for y in range(h)
        ]

    cases = [
        [3] * h,                              # all-Average wavefront
        [4] * h,                              # all-Paeth wavefront
        [0] + [4] * 17 + [3] * 3 + [2, 1, 4],  # mixed: 17-run, 3-run,
                                               # singletons at the tail
    ]
    for seed, filters in enumerate(cases):
        ref = ref_rows(seed)
        raw = _png_filter_forward(ref, ch, filters)
        data = _png_chunks(
            (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)),
            (b"IDAT", zlib.compress(raw)),
            (b"IEND", b""),
        )
        assert decode_image(data) == (w, h, 3, b"".join(ref)), (
            f"case {seed} ({filters[:5]}...) mismatched"
        )


def test_png_wavefront_block_carryover_exact():
    """Blocked wavefront processing (r12 review fix — bounded memory
    on long runs) carries the previous block's last row exactly: tiny
    forced blocks reproduce the single-block reconstruction bit for
    bit on both Average and Paeth."""
    import numpy as np

    from datawarehouse_code_spark.operators.multimodal import (
        _png_unfilter_wavefront,
    )

    rng = np.random.default_rng(7)
    K, W, ch = 24, 13, 3
    fb = rng.integers(0, 256, size=(K, W, ch)).astype(np.int16)
    prev = rng.integers(0, 256, size=(W, ch)).astype(np.int16)
    for f in (3, 4):
        whole = _png_unfilter_wavefront(fb, prev, f, ch)
        blocked = _png_unfilter_wavefront(fb, prev, f, ch, block_rows=5)
        assert (whole == blocked).all(), f"filter {f} block mismatch"


def test_png_wavefront_skew_buffer_bounded_all_aspect_ratios():
    """r13 ADVICE fix: the skewed buffer is (B+1)·(W+B+1)·ch·2 bytes —
    the B² skew term must be bounded too, or narrow tall images blow
    past the documented ~16 MB (W=16 gray previously computed
    B=262144 → 128 GiB skew buffer from a small crafted all-Paeth PNG
    inside PNG_MAX_PIXELS, and the resulting MemoryError bypasses the
    ValueError quarantine lane).  Pin the buffer bound across aspect
    ratios and the decode of a narrow tall all-Paeth image."""
    import struct
    import zlib

    from datawarehouse_code_spark.operators.multimodal import (
        _wavefront_block_rows,
        decode_image,
    )

    for W in (1, 16, 64, 128, 4096, 1 << 20, 1 << 26):
        for ch in (1, 2, 3, 4):
            B = _wavefront_block_rows(W, ch)
            buf_bytes = (B + 1) * (W + B + 1) * ch * 2
            # 16 rows is the vectorization floor; its W-term can carry
            # the buffer past 16 MB only via the (pre-existing,
            # PNG_MAX_PIXELS-bounded) wide-image edge — the skew term
            # itself must stay ≤ ~8 MB always.
            assert (B + 1) * (B + 1) * ch * 2 <= (1 << 23) + (1 << 19), (
                f"W={W} ch={ch}: B={B} skew term {(B+1)**2*ch*2}"
            )
            if B > 16:
                assert buf_bytes <= (1 << 24) + (1 << 20), (
                    f"W={W} ch={ch}: B={B} buffer {buf_bytes}"
                )

    # The attack shape end-to-end: W=16 gray, tall, all-Paeth rows.
    w, h, ch = 16, 4096, 1
    ref = [
        bytes(((x * 151 + y * 83) % 256) for x in range(w))
        for y in range(h)
    ]
    raw = _png_filter_forward(ref, ch, [4] * h)
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    )
    assert decode_image(data) == (w, h, 1, b"".join(ref))


# (row count, sha256 of the sorted (media_id, media_type,
# sha256(content)) rows) of each media fixture in plans/llm_queries.py
# over doc ids 0-499, as the Spark fixtures produced them.
_FIXTURE_DIGESTS = {
    "png_stats": (500, "4170e22c200a053408f80dc124651a7cd49dbabdfd88bf9b2e6ca365084a526f"),
    "image_stats": (500, "01362d220612bce0aaea86fa38e928006c1c751f4fb5f7a956b4f2a47490d49e"),
    "audio_stats": (500, "8b267909f02b0e03f93b93d6e509ce5f93dff9190c9b4fc3f2b1f6f22a1217ef"),
    "phash": (500, "49c6f5d9621610801b5b1df51ce610f720659037747e1aff58b161ac4abc8fb6"),
    "phash_dct": (500, "8dc22b55a1e6c1dc088a6336e59e23aed60707b553b5016ae4f6cb47c89b790e"),
    "phash_dct_parity0": (250, "1ee1b2ba589270a3c56e16aed68723fb017092cf4e695cf4f11d2893b3d709cc"),
    "phash_video": (250, "8c637e97437e83bdcd1b594520944e26c2076d60f8320104edeec9eac5373727"),
    "audio_fp": (500, "a5f4b13b7e2d9810dea828ff3edf7912f0e9dab98b4ed66e29c60767af8bae64"),
    "video_fp": (500, "388bf7951c2838a30ffe88d1f0ff1f7ae8bf40f1a65451ecec4f0031f58097cc"),
    "xmodal_image": (500, "360159ca5099ebad26b6206d8561dffda415ef739cbf1ca9a1fad33acd551073"),
    "cross_modal_video": (125, "504884f19950229271a81b35ba713d9cef920d467df64769edc4a883d9a639bc"),
    "cross_modal_video_every32": (16, "27755d6094d96b7397c44984328739a562ca58c8445e22eea50398a4b14d8106"),
}


def test_media_fixture_rows_match_pinned_digests():
    """Every media fixture's bytes, rebuilt in plain Python from its
    row function (no Spark job), equal the pinned digests.  The
    outcome-grain oracles (media_phash_dct_*, video_frame_phash_matches)
    cannot see a changed byte; this can.  The filtered variants take
    the same doc-id subsets the fixtures' `where` filters select."""
    import functools
    import hashlib

    from datawarehouse_code_spark.plans import llm_queries as q

    ids = range(500)
    evens = [d for d in ids if d % 2 == 0]
    cases = {
        "png_stats": (q._png_stats_row, ids),
        "image_stats": (q._image_stats_row, ids),
        "audio_stats": (q._audio_stats_row, ids),
        "phash": (q._phash_row, ids),
        "phash_dct": (q._phash_dct_row, ids),
        "phash_dct_parity0": (q._phash_dct_row, evens),
        "phash_video": (q._phash_video_row, evens),
        "audio_fp": (q._audio_fp_row, ids),
        "video_fp": (q._video_fp_row, ids),
        "xmodal_image": (q._xmodal_image_row, ids),
        "cross_modal_video": (
            functools.partial(q._cross_modal_video_row, 0),
            [d for d in ids if d % 4 == 0],
        ),
        "cross_modal_video_every32": (
            functools.partial(q._cross_modal_video_row, q._XMODAL_ID_OFFSET),
            [d for d in ids if d % 32 == 0],
        ),
    }
    got = {}
    for name, (make, doc_ids) in cases.items():
        rows = sorted(
            (m, t, hashlib.sha256(c).hexdigest()) for m, t, c in map(make, doc_ids)
        )
        got[name] = (len(rows), hashlib.sha256(repr(rows).encode()).hexdigest())
    assert got == _FIXTURE_DIGESTS
