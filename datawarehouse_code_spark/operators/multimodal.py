"""Multimodal column plumbing: opaque binary media + typed metadata,
processed with Arrow-batched `mapInPandas`.

Doctrine for image/audio/video at 100 TB:
- media is an opaque `binary` column with typed metadata columns
  beside it — never decoded driver-side, never a Python object column;
- decode / feature-extraction / frame-sampling run as `mapInPandas`
  stages: Arrow batches in, Arrow batches out, one Python worker per
  partition — a narrow map, so it scales like any projection;
- `decode_image` has REAL executable branches, all pure
  Python/numpy: binary PNM (PPM "P6" RGB / PGM "P5" grayscale),
  uncompressed 24-bit BMP, baseline JPEG (SOF0), and non-interlaced
  8-bit PNG (gray/RGB/RGBA/gray+alpha/palette, full zlib-inflate +
  un-filter pipeline) — with `decoded_image_stats` running them
  inside the mapInPandas path, oracle-verified over synthetic
  payloads and pinned against javax.imageio as an independent
  encoder/decoder.  Codecs beyond these (progressive JPEG, Adam7
  PNG, audio/video) need libraries (Pillow / torchaudio / ffmpeg)
  NOT in this container; image payloads auto-route through Pillow
  when it imports (availability-probed like the avro source,
  see _decode_pillow), and only when it does not do those branches
  raise NotImplementedError into the quarantine lane.

The fixture has no binary table, so `media_from_documents` derives
one by UTF-8-encoding `documents.text` — deterministic, and (for
ASCII text) byte-level features are reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # codec libraries are optional; absent in this container
    from PIL import Image  # type: ignore  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

# Probe-and-PREFER (r13 verdict ask): with
# SPARK_GRAFT_PREFER_PILLOW=1 and Pillow importable, decode_image
# routes EVERY image payload through the codec library and the
# pure-Python decoders become the documented fallback — the shape a
# production deploy runs (real crawls carry WebP/HEIC/progressive
# payloads the pure decoders quarantine).  Resolved from the
# environment at module import so Spark workers — which import this
# module fresh when unpickling the Arrow maps — resolve it
# identically to the driver (local mode shares the process env;
# cluster deploys set it via spark.executorEnv).  A DEPLOY-WIDE
# choice, not per-query: lossless formats (PNM/BMP/PNG) decode
# byte-identically under either regime (pinned by
# test_pillow_preferred_hash_parity), but JPEG inverse-DCT rounding
# is implementation-specific, so perceptual indexes built under one
# regime should not be served under the other without a rebuild.
import os as _os

PREFER_PILLOW = HAVE_PIL and _os.environ.get(
    "SPARK_GRAFT_PREFER_PILLOW", ""
) not in ("", "0")

FEATURE_SCHEMA = (
    "media_id BIGINT, media_type STRING, n_bytes INT, width INT, height INT, "
    "checksum BIGINT"
)
FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, frame_bytes BINARY, frame_len INT"

# Hard cap on declared JPEG pixel count (67 MP).  The plane buffers
# are allocated from the SOF0 header BEFORE entropy decode can fail,
# so a crafted 2-byte dimension field must not be able to command
# GB-scale numpy allocations in the quarantine lane (one hostile
# payload OOM-killing an executor defeats "one bad byte must not kill
# the job").  The cap must also ADMIT legitimate corpus images:
# modern camera/phone output runs 24-48 MP, so a 16 MP cap (the r8
# first cut) silently quarantined valid photos.  2^26 covers every
# mainstream sensor with headroom; the worst pre-decode allocation is
# ~3 planes x 2^26 x 8 B ≈ 1.6 GB — paid only for a genuinely
# 67 MP-declared image, survivable per-task, and 5x under the ~8 GB a
# 16-bit dimension field could otherwise command.  Raise further only
# alongside a real streaming/per-MCU-row allocator.
JPEG_MAX_PIXELS = 1 << 26
DECODED_STATS_SCHEMA = (
    "media_id BIGINT, width INT, height INT, "
    "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT"
)


def _decode_pnm(data: bytes) -> tuple[int, int, int, bytes]:
    """Pure-Python binary-PNM decode: P6 (RGB, 3 channels) or P5
    (grayscale, 1 channel) → (width, height, n_channels, pixel_bytes)
    with pixels interleaved per the format.  Handles the full header
    grammar — arbitrary whitespace between tokens and `#` comments
    through end-of-line — and fails loudly on truncated payloads or
    a >8-bit maxval (16-bit PNM is out of scope)."""
    magic = bytes(data[:2])
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary PNM payload (magic {magic!r})")
    channels = 3 if magic == b"P6" else 1
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(data):
            c = data[pos : pos + 1]
            if c == b"#":
                while pos < len(data) and data[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        vals.append(int(data[start:pos]))
    width, height, maxval = vals
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported PNM maxval {maxval} (8-bit only)")
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    n = width * height * channels
    pixels = bytes(data[pos : pos + n])
    if len(pixels) != n:
        raise ValueError(
            f"PNM payload truncated: want {n} pixel bytes, have {len(pixels)}"
        )
    return width, height, channels, pixels


def _decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Pure-Python uncompressed 24-bit BMP (BI_RGB) decode →
    (width, height, 3, RGB pixel bytes).  Handles the BITMAPFILEHEADER
    + BITMAPINFOHEADER layout, 4-byte row padding, bottom-up (positive
    height) and top-down (negative height) storage, and the BGR→RGB
    channel swap.  Anything else (palettes, other bit depths, RLE)
    fails loudly."""
    import struct

    if bytes(data[:2]) != b"BM":
        raise ValueError(f"not a BMP payload (magic {bytes(data[:2])!r})")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    width, height_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw
    if width <= 0 or height <= 0:
        raise ValueError(f"bad BMP dimensions {width}x{height_raw}")
    row_stride = (width * 3 + 3) & ~3
    need = pixel_offset + row_stride * height
    if len(data) < need:
        raise ValueError(
            f"BMP payload truncated: want {need} bytes, have {len(data)}"
        )
    out = bytearray(width * height * 3)
    for r in range(height):
        src_row = r if top_down else height - 1 - r
        base = pixel_offset + src_row * row_stride
        dst = r * width * 3
        for x in range(width):
            b, g, rr = data[base + 3 * x : base + 3 * x + 3]
            out[dst + 3 * x] = rr
            out[dst + 3 * x + 1] = g
            out[dst + 3 * x + 2] = b
    return width, height, 3, bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Same doctrine as JPEG_MAX_PIXELS below: IHDR's 4-byte dimension
# fields are parsed BEFORE any pixel allocation, so a crafted header
# must not be able to command GB-scale buffers in the quarantine lane.
# The inflate is additionally bounded to the exact expected scanline
# volume (see _decode_png), so a zlib bomb cannot expand past it.
PNG_MAX_PIXELS = 1 << 26

# color type -> channels as stored in the scanlines (palette stores
# 1-byte indices; the decoder expands them to RGB on output)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# JPEG batched-IDCT flush size: 4096 blocks × 64 coefs × 8 B ≈ 2 MB
# of pending coefficient memory, image-size independent.
_IDCT_CHUNK = 4096


def _wavefront_block_rows(W: int, ch: int) -> int:
    """Block height for _png_unfilter_wavefront's skewed buffer.

    The buffer is (B+1)·(W+B+1)·ch·2 bytes — a B·W term AND a B² skew
    term, so B must satisfy B·(W+B)·ch·2 ≤ budget.  Bounding each term
    by 8 MB separately (B ≤ 8MB/(W·ch·2) and B ≤ sqrt(8MB/(ch·2)))
    keeps the buffer under ~16 MB for EVERY aspect ratio: a narrow
    tall all-Paeth PNG (W=16, gray) previously computed B=262144 whose
    B² skew alone was 128 GiB — inside PNG_MAX_PIXELS, so a small
    crafted file OOM-killed the worker past the quarantine lane
    (MemoryError is not ValueError and nothing can catch it)."""
    return max(
        16,
        min(
            (1 << 23) // max(1, W * ch * 2),
            int(((1 << 23) / (ch * 2)) ** 0.5),
        ),
    )


def _png_unfilter_wavefront(
    fb, prev, f: int, ch: int, block_rows: int | None = None
):
    """Vectorized Average/Paeth un-filtering for a RUN of consecutive
    rows carrying the same filter type, by anti-diagonal wavefront:
    cell (k, x) depends on (k, x−1), (k−1, x) and (k−1, x−1) — all on
    earlier anti-diagonals — so every cell with k + x = d is
    independent given d−1 and the whole diagonal computes as one numpy
    step.  A K-row × W-column run costs K+W−1 vector steps instead of
    K·W·ch scalar Python iterations (measured ~40× on a 256² all-Paeth
    image; see SCALE.md).  Channel lanes ride as a trailing axis.

    fb: (K, W, ch) int16 filter bytes; prev: (W, ch) int16
    reconstructed row above the run (zeros at the image top);
    returns the (K, W, ch) int16 reconstruction.

    Layout: the run lives in a SKEWED buffer S with one guard row and
    one guard column — logical cell (k, x) at S[k+1, k+x+1] — so
    every anti-diagonal is a CONTIGUOUS column slice and the three
    dependencies are the adjacent column slices:

        left (k, x−1)    → S[k0+1:k1+1, d]
        up (k−1, x)      → S[k0:k1,     d]
        up-left (k−1, x−1) → S[k0:k1,   d−1]

    (basic slices, no fancy-indexing gathers — measured ~2× over the
    gather formulation).  The guard row 0 carries `prev` at the skew
    of the virtual row k=−1, so k=0 reads its up/up-left neighbors
    without branching, and x=0's left/up-left land on never-written
    zero cells — including d=0's column −1, which Python-wraps to the
    LAST column, deliberately sized one past every write.

    Memory: the skewed buffer is O(B·(W+B)·ch) for a B-row block, so
    long runs are processed in blocks (each block's last row is the
    next block's `prev` — reconstruction is row-Markov), bounding
    transient memory at ~16 MB however long libpng's all-Paeth runs
    get; `block_rows` overrides the computed block height (tests
    force tiny blocks to pin boundary carry-over)."""
    import numpy as np

    K, W, _ = fb.shape
    B = block_rows if block_rows is not None else _wavefront_block_rows(W, ch)
    if K > B:
        out = np.empty((K, W, ch), dtype=np.int16)
        p = prev
        for y0 in range(0, K, B):
            blk = _png_unfilter_wavefront(fb[y0: y0 + B], p, f, ch)
            out[y0: y0 + B] = blk
            p = blk[-1]
        return out

    # the write cells are pre-filled with the FILTER bytes, so the
    # update is one in-place add+mask — no second skewed buffer
    S = np.zeros((K + 1, W + K + 1, ch), dtype=np.int16)
    S[0, :W] = prev  # virtual row k=-1: skew puts (−1, x) at column x
    for k in range(K):
        S[k + 1, k + 1: k + 1 + W] = fb[k]
    for d in range(K + W - 1):
        k0, k1 = max(0, d - W + 1), min(K, d + 1)
        left = S[k0 + 1: k1 + 1, d]
        up = S[k0:k1, d]
        if f == 3:  # Average
            pred = (left + up) >> 1
        else:  # Paeth
            c = S[k0:k1, d - 1]
            pa = np.abs(up - c)
            pb = np.abs(left - c)
            pc = np.abs(left + up - 2 * c)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, up, c),
            )
        w = S[k0 + 1: k1 + 1, d + 1]
        w += pred
        w &= 0xFF
    r = np.empty((K, W, ch), dtype=np.int16)
    for k in range(K):
        r[k] = S[k + 1, k + 1: k + 1 + W]
    return r


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Pure-Python PNG decode → (width, height, n_channels,
    interleaved pixel bytes): 8-bit greyscale (1ch), truecolor (3),
    indexed/palette (expanded to 3), grey+alpha (2) and RGBA (4),
    non-interlaced.  The full critical-chunk pipeline runs natively —
    signature, chunk walk with CRC verification, IHDR validation,
    IDAT concatenation, bounded zlib inflate, and per-scanline
    un-filtering of all five filter types (None/Sub/Up/Average/
    Paeth, RFC 2083 §6) against the RECONSTRUCTED neighbors.

    Loud-failure contract (the quarantine lane catches exactly
    these): ValueError for structural corruption — bad signature,
    truncated or CRC-broken chunks, inflate errors, over/under-sized
    or non-terminated pixel streams, bad filter bytes, palette index
    out of range, and spec-mandated chunk-order violations (PLTE
    after the first IDAT, duplicate PLTE, a PLTE on grayscale color
    types, non-consecutive IDAT runs — RFC 2083 §4.1/§10);
    NotImplementedError for valid-but-unsupported streams — Adam7
    interlace, non-8-bit depths.  Ancillary chunks (tEXt, gAMA,
    tRNS, ...) are skipped: stats decode ignores transparency and
    color management by design."""
    import struct
    import zlib

    import numpy as np

    if bytes(data[:8]) != _PNG_SIG:
        raise ValueError(f"not a PNG payload (signature {bytes(data[:8])!r})")
    pos, n = 8, len(data)
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat = bytearray()
    saw_iend = False
    idat_run_closed = False  # an IDAT sequence ended (next IDAT is a spec violation)
    while pos < n:
        if pos + 8 > n:
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = bytes(data[pos + 4 : pos + 8])
        if length > n - pos - 12:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        body = bytes(data[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in chunk {ctype!r}")
        pos += 12 + length
        if ihdr is None and ctype != b"IHDR":
            raise ValueError(f"PNG first chunk is {ctype!r}, not IHDR")
        if idat and ctype != b"IDAT":
            idat_run_closed = True
        if ctype == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate IHDR chunk")
            if length != 13:
                raise ValueError(f"IHDR length {length} != 13")
            ihdr = body
        elif ctype == b"PLTE":
            if plte is not None:
                raise ValueError("duplicate PLTE chunk")
            if idat:
                raise ValueError("PLTE chunk after IDAT")
            plte = body
        elif ctype == b"IDAT":
            if idat_run_closed:
                raise ValueError("non-consecutive IDAT chunks")
            idat += body
        elif ctype == b"IEND":
            saw_iend = True
            break
        # ancillary chunks: skipped
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if not saw_iend:
        raise ValueError("PNG missing IEND (truncated stream)")
    if not idat:
        raise ValueError("PNG missing IDAT")
    width, height, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if comp != 0 or filt != 0:
        raise ValueError(
            f"bad IHDR compression/filter method {comp}/{filt}"
        )
    if interlace == 1:
        raise NotImplementedError("Adam7-interlaced PNG unsupported")
    if interlace != 0:
        raise ValueError(f"bad IHDR interlace {interlace}")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    if plte is not None and color_type in (0, 4):
        raise ValueError(
            f"PLTE chunk forbidden for grayscale color type {color_type}"
        )
    if depth != 8:
        raise NotImplementedError(
            f"only 8-bit PNG supported (depth {depth})"
        )
    if width <= 0 or height <= 0 or width * height > PNG_MAX_PIXELS:
        raise ValueError(f"bad/oversized PNG dimensions {width}x{height}")

    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    expected = (stride + 1) * height
    d = zlib.decompressobj()
    try:
        # bounded inflate: ask for at most expected+1 bytes — a
        # decompression bomb stops HERE, at one byte past the
        # scanline volume, whatever its declared expansion
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from None
    if len(raw) > expected:
        raise ValueError("PNG pixel data exceeds IHDR scanline volume")
    if len(raw) < expected:
        raise ValueError(
            f"PNG pixel data truncated: want {expected} bytes, "
            f"have {len(raw)}"
        )
    # the stream must TERMINATE at exactly the scanline volume: a
    # clean truncation after `expected` inflated bytes leaves the
    # zlib stream open (d.eof False), and a stream with trailing
    # garbage after the Adler-32 checksum leaves unused_data — both
    # are corruption the chunk CRCs cannot see.  max_length parks
    # unprocessed input in unconsumed_tail, so feed it back (capped
    # at ONE more byte — still bomb-proof) to let zlib reach the
    # stream trailer before checking eof.
    if d.decompress(d.unconsumed_tail, 1):
        raise ValueError("PNG pixel data exceeds IHDR scanline volume")
    if not d.eof:
        raise ValueError(
            "PNG IDAT zlib stream not terminated (truncated deflate)"
        )
    if d.unused_data:
        raise ValueError("trailing garbage after PNG IDAT zlib stream")

    # un-filter (RFC 2083 §6) against RECONSTRUCTED neighbors.
    # None/Up are whole-row numpy ops (uint8 addition wraps mod 256);
    # Sub is a per-channel-lane prefix sum (recon[j] = Σ filt[0..j]
    # mod 256), vectorized as an int64 cumsum masked back to a byte.
    # Average and Paeth carry a RECONSTRUCTED-left dependency through
    # a nonlinear op (floor-half / min-predictor), so a single row
    # cannot prefix-sum — but a RUN of consecutive same-filter rows
    # vectorizes by anti-diagonal wavefront (_png_unfilter_wavefront);
    # short runs (< 4 rows, where numpy step overhead loses to the
    # scalar loop) stay per-pixel Python.
    rawa = np.frombuffer(raw, dtype=np.uint8)
    mat = rawa.reshape(height, stride + 1)
    fcol = mat[:, 0]
    rows = mat[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = bytes(stride)
    y = 0
    while y < height:
        f = int(fcol[y])
        if f == 0:
            out[y] = rows[y]
            y += 1
        elif f == 1:  # Sub: per-lane prefix sum of filter bytes
            out[y] = (
                np.cumsum(rows[y].reshape(width, ch), axis=0, dtype=np.int64)
                & 0xFF
            ).astype(np.uint8).reshape(stride)
            y += 1
        elif f == 2:  # Up: whole-row wrap-add of the prior recon row
            out[y] = rows[y] + (out[y - 1] if y else 0)
            y += 1
        elif f in (3, 4):
            y2 = y + 1
            while y2 < height and int(fcol[y2]) == f:
                y2 += 1
            if y2 - y >= 4:  # wavefront pays past ~4 rows
                prev = (
                    out[y - 1].reshape(width, ch).astype(np.int16)
                    if y
                    else np.zeros((width, ch), dtype=np.int16)
                )
                block = rows[y:y2].reshape(y2 - y, width, ch).astype(np.int16)
                out[y:y2] = (
                    _png_unfilter_wavefront(block, prev, f, ch)
                    .astype(np.uint8)
                    .reshape(y2 - y, stride)
                )
                y = y2
                continue
            for yy in range(y, y2):
                row = bytearray(rows[yy].tobytes())
                prev_b = out[yy - 1].tobytes() if yy else zero_row
                if f == 3:  # Average
                    for i in range(stride):
                        a = row[i - ch] if i >= ch else 0
                        row[i] = (row[i] + ((a + prev_b[i]) >> 1)) & 0xFF
                else:  # Paeth
                    for i in range(stride):
                        a = row[i - ch] if i >= ch else 0
                        b = prev_b[i]
                        c = prev_b[i - ch] if i >= ch else 0
                        pa, pb, pc = (
                            abs(b - c), abs(a - c), abs(a + b - 2 * c)
                        )
                        if pa <= pb and pa <= pc:
                            pred = a
                        elif pb <= pc:
                            pred = b
                        else:
                            pred = c
                        row[i] = (row[i] + pred) & 0xFF
                out[yy] = np.frombuffer(bytes(row), dtype=np.uint8)
            y = y2
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")

    if color_type == 3:
        if plte is None:
            raise ValueError("indexed PNG missing PLTE")
        if len(plte) == 0 or len(plte) % 3:
            raise ValueError(f"bad PLTE length {len(plte)}")
        n_entries = len(plte) // 3
        idx = out.reshape(-1)
        bad = int(idx.max()) if idx.size else 0
        if bad >= n_entries:
            raise ValueError(
                f"palette index {bad} out of range ({n_entries} entries)"
            )
        px = np.frombuffer(plte, dtype=np.uint8).reshape(n_entries, 3)[idx]
        return width, height, 3, px.tobytes()
    return width, height, ch, out.tobytes()


# JPEG zigzag scan order: natural (row-major) index of each of the 64
# zigzag positions (ITU-T.81 Figure 5).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# 8x8 IDCT basis M[u, x] = c_u/2 * cos((2x+1)·u·π/16); spatial =
# Mᵀ·coef·M.  Built lazily so importing the module never needs numpy.
_IDCT_M = None


def _idct_basis():
    global _IDCT_M
    if _IDCT_M is None:
        import numpy as np

        u = np.arange(8).reshape(8, 1)
        x = np.arange(8).reshape(1, 8)
        m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
        m[0, :] *= 1 / np.sqrt(2)
        _IDCT_M = m
    return _IDCT_M


def _build_huffman(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table: {(code_length, code): symbol}
    from the DHT BITS (counts per length 1..16) + HUFFVAL arrays."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded JPEG data: un-stuffs
    0xFF00, surfaces RSTn markers (reset points), stops at other
    markers (EOI/next segment)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:  # stuffed literal 0xFF
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        # mask to the LIVE bits before appending: without it buf keeps
        # every consumed byte since the last restart and each <<8 copies
        # a growing bignum — O(N^2) on a multi-MB entropy segment
        self.buf = ((self.buf & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_skip_rst(self) -> None:
        """Byte-align and consume one RSTn marker (restart interval)."""
        self.buf = 0
        self.nbits = 0
        d = self.data
        if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
        else:
            raise ValueError("expected restart marker")

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy data")


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, s: int) -> int:
    """ITU-T.81 EXTEND: map the s received magnitude bits to the
    signed coefficient value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_jpeg(data: bytes):
    """ValueError-on-corruption wrapper: a payload cut mid-segment or
    mid-entropy-data indexes past the buffer, and a corrupt stream can
    drift the Huffman reader into a restart marker mid-block — surface
    both as the same loud ValueError the PNM/BMP decoders raise, never
    a bare IndexError or internal control-flow exception out of a
    Python worker."""
    try:
        return _decode_jpeg_inner(data)
    except IndexError:
        raise ValueError("truncated JPEG payload") from None
    except KeyError as e:
        # a corrupt stream can reference a quant/Huffman table or scan
        # component id that was never defined
        raise ValueError(f"JPEG references undefined table/component {e}") from None
    except _RestartMarker:
        raise ValueError(
            "unexpected restart marker mid-block (corrupt entropy data "
            "or missing DRI segment)"
        ) from None


def _decode_jpeg_inner(data: bytes):
    """Pure-Python/numpy BASELINE (SOF0) JPEG decode → (width, height,
    n_channels, interleaved_pixel_bytes).  Implements the common
    real-world path (r7 verdict ask #4): segment parse (DQT/DHT/SOF0/
    SOS/DRI, APPn/COM skipped), canonical Huffman entropy decode with
    byte un-stuffing and restart intervals, dequantize + de-zigzag,
    exact float64 8x8 IDCT, chroma upsampling by pixel replication,
    integer YCbCr→RGB.  1-component (grayscale) and 3-component
    (YCbCr, any h/v sampling including 4:2:0 / 4:2:2) streams decode;
    progressive (SOF2), arithmetic coding, and 12-bit precision raise
    loudly.  Pinned against javax.imageio as an independent encoder
    AND decoder in tests/test_multimodal.py — replication upsampling
    and IDCT rounding differ from libjpeg's smooth upsampler by a few
    code units on subsampled chroma, which the test tolerances encode.
    """
    import numpy as np

    if bytes(data[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None  # (height, width, [(comp_id, h, v, tq), ...])
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RSTn: no payload
            continue
        seg_len = int.from_bytes(data[pos : pos + 2], "big")
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                raw = list(seg[p + 1 : p + 65])
                nat = [0] * 64
                for i, z in enumerate(_JPEG_ZIGZAG):
                    nat[z] = raw[i]
                qtables[tq] = nat
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = _build_huffman(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/SOF1 (baseline)
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            # corruption guards: zero/absurd dims would allocate GB-
            # scale planes or divide by zero (cap rationale at
            # JPEG_MAX_PIXELS); sampling factors are 1..4 per the spec
            if h == 0 or w == 0 or h * w > JPEG_MAX_PIXELS:
                raise ValueError(f"implausible JPEG dimensions {w}x{h}")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                ch, cv = hv >> 4, hv & 15
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(f"bad sampling factors {ch}x{cv}")
                comps.append((cid, ch, cv, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X}) unsupported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = seg[0]
            scan_tables = {}
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_tables[cs] = (tdta >> 4, tdta & 15)
            height, width, comps = frame
            if ns != len(comps):
                raise NotImplementedError("multi-scan baseline unsupported")
            if ns == 1:
                # ITU-T.81 A.2.2: a single-component scan is
                # NON-interleaved — one 8x8 block per MCU over
                # ceil(w/8) x ceil(h/8), regardless of the sampling
                # factors the SOF declares (some encoders emit h=v=2
                # on grayscale; interleaved geometry would mis-order
                # blocks whenever w or h is not a multiple of 16)
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            planes = {}
            for cid, ch, cv, _tq in comps:
                planes[cid] = np.zeros((mcuy * cv * 8, mcux * ch * 8))
            m = _idct_basis()
            reader = _JpegBitReader(data, pos + seg_len)
            preds = {cid: 0 for cid, *_ in comps}
            mcu_count = 0

            # batched IDCT: the Huffman scan collects dequantized
            # coefficient blocks and positions; every _IDCT_CHUNK
            # blocks (and once at scan end) ONE broadcast matmul pair
            # mᵀ·C·m transforms the whole batch — replacing two tiny
            # numpy matmuls per 8x8 block (call overhead ≈ the math at
            # this size) while the chunk bound keeps the extra peak
            # memory at ~2 MB regardless of image size.
            pend: dict = {cid: ([], []) for cid, *_ in comps}

            def _flush(cid: int) -> None:
                coefs, pos_list = pend[cid]
                if not coefs:
                    return
                blocks = m.T @ np.stack(coefs).reshape(-1, 8, 8) @ m + 128
                pl = planes[cid]
                for b, (y0, x0) in zip(blocks, pos_list):
                    pl[y0 : y0 + 8, x0 : x0 + 8] = b
                pend[cid] = ([], [])
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_count and \
                            mcu_count % restart_interval == 0:
                        reader.align_and_skip_rst()
                        preds = {cid: 0 for cid, *_ in comps}
                    mcu_count += 1
                    for cid, ch, cv, tq in comps:
                        dct = dc_tables[scan_tables[cid][0]]
                        act = ac_tables[scan_tables[cid][1]]
                        qt = qtables[tq]
                        for by in range(cv):
                            for bx in range(ch):
                                coef = np.zeros(64)
                                s = reader.decode_huff(dct)
                                diff = _extend(reader.receive(s), s)
                                preds[cid] += diff
                                coef[0] = preds[cid] * qt[0]
                                k = 1
                                while k < 64:
                                    rs = reader.decode_huff(act)
                                    r, sz = rs >> 4, rs & 15
                                    if sz == 0:
                                        if r == 15:
                                            k += 16
                                            continue
                                        break  # EOB
                                    k += r
                                    if k > 63:
                                        raise ValueError("AC run past block end")
                                    z = _JPEG_ZIGZAG[k]
                                    coef[z] = _extend(reader.receive(sz), sz) * qt[z]
                                    k += 1
                                coefs, pos_list = pend[cid]
                                coefs.append(coef)
                                pos_list.append((
                                    (my * cv + by) * 8,
                                    (mx * ch + bx) * 8,
                                ))
                                if len(coefs) >= _IDCT_CHUNK:
                                    _flush(cid)
            for cid, *_ in comps:
                _flush(cid)
            # upsample to full grid by replication, crop, color-convert
            full = []
            for cid, ch, cv, _tq in comps:
                p_arr = planes[cid]
                if ch != hmax or cv != vmax:
                    p_arr = np.repeat(
                        np.repeat(p_arr, vmax // cv, axis=0), hmax // ch, axis=1
                    )
                full.append(p_arr[:height, :width])
            if len(full) == 1:
                gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
                return width, height, 1, gray.tobytes()
            y, cb, cr = full[0], full[1] - 128, full[2] - 128
            r = y + 1.402 * cr
            g = y - 0.344136 * cb - 0.714136 * cr
            b = y + 1.772 * cb
            rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255)
            return width, height, 3, rgb.astype(np.uint8).tobytes()
        # APPn / COM / anything else: skip payload
        pos += seg_len
    raise ValueError("JPEG stream ended without SOS scan data")


# Minimal-table constant-gray JPEG ENCODER: enough of ITU-T.81 to emit
# a legal baseline stream for a solid-gray image — all-ones quant
# table, single grayscale component, standard DC luminance Huffman
# table, and an AC table containing ONLY the EOB symbol.  A constant
# block has a DC-only DCT (8·(v−128)) and an all-ones table quantizes
# it losslessly, so DECODE IS BIT-EXACT: sum of decoded pixels ==
# w·h·v, a closed form the DuckDB oracle can state from doc_id alone
# (decoded_image_stats row).  The decoder is independently pinned
# against javax.imageio-encoded files in tests, so an encoder/decoder
# self-consistent bug cannot hide.
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))


def encode_gray_jpeg(
    width: int, height: int, gray: int, restart_interval: int = 0
) -> bytes:
    if not (0 <= gray <= 255 and width > 0 and height > 0):
        raise ValueError(f"bad constant-gray JPEG spec {width}x{height}@{gray}")
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + b"\x01" * 64  # DQT
    out += (  # SOF0: 8-bit, 1 component, no subsampling
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00"
    )
    out += (  # DHT: DC table 0 (standard luminance)
        b"\xff\xc4" + (19 + len(_DC_LUM_VALS)).to_bytes(2, "big") + b"\x00"
        + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
    )
    # DHT: AC table 0 with a single length-1 code (0) for EOB
    ac_bits = [1] + [0] * 15
    out += (
        b"\xff\xc4" + (19 + 1).to_bytes(2, "big") + b"\x10"
        + bytes(ac_bits) + bytes([0x00])
    )
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart_interval.to_bytes(2, "big")
    out += b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01\x01\x00\x00\x3f\x00"  # SOS

    # canonical codes for the DC table (same construction as the decoder
    # verifies against javax.imageio streams)
    dc_codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(_DC_LUM_BITS[length - 1]):
            dc_codes[_DC_LUM_VALS[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1

    bitbuf: list[int] = []

    def put(value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            bitbuf.append((value >> i) & 1)

    def put_dc_diff(diff: int) -> None:
        mag = abs(diff)
        s = mag.bit_length()
        length, c = dc_codes[s]
        put(c, length)
        if s:
            put(diff if diff >= 0 else diff + (1 << s) - 1, s)

    def flush_bits() -> None:
        while len(bitbuf) % 8:
            bitbuf.append(1)  # pad with 1s per spec
        for i in range(0, len(bitbuf), 8):
            byte = 0
            for bit in bitbuf[i : i + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
        bitbuf.clear()

    n_blocks = (-(-width // 8)) * (-(-height // 8))
    pred = 0
    for i in range(n_blocks):
        if restart_interval and i and i % restart_interval == 0:
            flush_bits()
            out += bytes([0xFF, 0xD0 + ((i // restart_interval - 1) % 8)])
            pred = 0  # predictors reset at a restart boundary
        put_dc_diff(8 * (gray - 128) - pred)
        pred = 8 * (gray - 128)
        put(0, 1)  # EOB (the single AC code)
    flush_bits()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_const_ppm(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Constant-color binary PPM (P6) payload — the closed-form fixture
    the decoded_image_stats oracle predicts from ids alone."""
    return (
        f"P6\n{width} {height}\n255\n".encode("ascii")
        + bytes(rgb) * (width * height)
    )


def encode_gray_pgm(width: int, height: int, pixels: bytes) -> bytes:
    """Arbitrary-raster binary PGM (P5) payload — the grayscale fixture
    encoder for the perceptual-hash family (operators/media_dedup.py):
    `pixels` is the row-major 8-bit luminance raster, emitted verbatim,
    so a test or oracle that constructs the raster knows the decoded
    bytes exactly."""
    if len(pixels) != width * height:
        raise ValueError(
            f"raster is {len(pixels)} bytes, expected {width * height}"
        )
    return f"P5\n{width} {height}\n255\n".encode("ascii") + bytes(pixels)


def dhash_raster(row_bytes) -> bytes:
    """The 9-wide grayscale raster whose dHash row bits EQUAL the given
    row bytes (bit c of row r set <-> luminance strictly increases from
    column c to c+1, operators/media_dedup.dhash_bits): each row starts
    at 128 and walks +1 per set bit, -1 per clear one.  Values stay
    within [120, 136], so no saturation and no ties; 8 row bytes give
    the 9x8 raster that needs no downsampling."""
    raster = bytearray()
    for b in row_bytes:
        v = 128
        raster.append(v)
        for c in range(8):
            v += 1 if (b >> c) & 1 else -1
            raster.append(v)
    return bytes(raster)


def encode_const_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Constant-color bottom-up 24-bit BI_RGB BMP payload (4-byte row
    padding, BGR order) — same closed-form fixture role as
    encode_const_ppm, exercising the BMP decode branch."""
    import struct

    row = bytes((rgb[2], rgb[1], rgb[0])) * width
    row += b"\x00" * ((-len(row)) % 4)
    pixels = row * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + pixels


def encode_const_png(
    width: int, height: int, rgb: tuple[int, int, int]
) -> bytes:
    """Constant-color 8-bit truecolor PNG payload (filter 0 on every
    scanline) — the closed-form fixture role of encode_const_ppm for
    the PNG decode branch.  The independent-encoder pin (filters,
    palettes, alpha, Adam7 rejection) is javax.imageio in
    tests/test_multimodal.py, same doctrine as JPEG."""
    import struct
    import zlib

    if not (width > 0 and height > 0 and all(0 <= v <= 255 for v in rgb)):
        raise ValueError(f"bad constant-PNG spec {width}x{height}@{rgb}")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = (b"\x00" + bytes(rgb) * width) * height
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_pillow(data: bytes) -> tuple[int, int, int, bytes]:
    """Codec-library decode (Pillow) for the payloads the pure-Python
    decoders route to quarantine: progressive JPEG, Adam7-interlaced
    PNG, non-8-bit depths.  Availability-probed like the avro
    source — this function is only reachable when `HAVE_PIL` is True
    (`pip install pillow` is the documented one-package upgrade; the
    container this repo is built in ships without it, so the Pillow
    path is pinned by skip-marked tests that activate when the
    environment gains the package).

    Output keeps decode_image's contract — (width, height,
    n_channels, interleaved 8-bit pixel bytes) with channels as the
    image stores them (L=1, LA=2, RGB=3, RGBA=4); palette expands to
    RGB and >8-bit depths normalize to 8-bit, matching the
    pure-Python decoders' behavior on their supported overlap.
    Decode errors surface as ValueError so the quarantine lane's
    loud-failure contract is preserved."""
    from io import BytesIO

    from PIL import Image, UnidentifiedImageError

    try:
        img = Image.open(BytesIO(data))
        img.load()
    except UnidentifiedImageError as e:
        raise ValueError(f"Pillow could not identify payload: {e}") from None
    except OSError as e:
        raise ValueError(f"Pillow decode failed: {e}") from None
    if img.mode == "P":
        img = img.convert("RGB")
    elif img.mode in ("I", "I;16", "I;16B", "I;16L", "F"):
        # >8-bit single-channel: scale to 8-bit gray with a FIXED
        # divisor per mode (PIL's plain convert("L") truncates instead
        # of scaling 16-bit values).  Fixed, never content-dependent:
        # scaling by the image's own max would make two crops of the
        # same image decode to different gray levels.  'I' is a 32-bit
        # container but every real producer (16-bit PNG/TIFF via
        # Pillow) fills it with 16-bit sample values, so it shares the
        # 65535 depth divisor; 'F' is defined on [0, 1] and clamps.
        import numpy as np

        arr = np.asarray(img, dtype=np.float64)
        if img.mode == "F":
            arr = arr.clip(0.0, 1.0) * 255.0
        else:
            arr = arr / 65535.0 * 255.0
        img = Image.fromarray(
            arr.round().clip(0, 255).astype(np.uint8), "L"
        )
    mode_ch = {"L": 1, "LA": 2, "RGB": 3, "RGBA": 4}
    if img.mode not in mode_ch:
        img = img.convert("RGB")
    return img.width, img.height, mode_ch[img.mode], img.tobytes()


def decode_image(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode an encoded image to (width, height, n_channels,
    interleaved_pixel_bytes).

    Real executable branches, all pure Python/numpy and exercised
    end-to-end in this container: binary PNM (PPM/PGM), 24-bit BMP,
    BASELINE JPEG (SOF0 — grayscale or YCbCr with any sampling; see
    _decode_jpeg), and non-interlaced 8-bit PNG (gray / RGB / RGBA /
    gray+alpha / palette; see _decode_png).  Progressive JPEG, Adam7
    PNG and non-8-bit depths need a codec library: when Pillow is
    importable those payloads route through _decode_pillow, otherwise
    those branches alone raise NotImplementedError (the quarantine
    lane).  Corruption is ValueError on every path — a codec library
    never rescues a stream the pure decoders rejected as damaged.

    With PREFER_PILLOW (env-gated, see the module flag) the routing
    inverts: every payload goes to the codec library first and the
    pure decoders only serve what Pillow cannot identify — the
    production-deploy shape."""
    if PREFER_PILLOW:
        try:
            return _decode_pillow(data)
        except ValueError:
            # Pillow's loud failure — fall through ONLY for formats
            # the pure decoders own (a PNM variant Pillow's plugin
            # set lacks); true corruption re-raises identically
            # from the pure path below
            if bytes(data[:2]) not in (b"P6", b"P5"):
                raise
    if bytes(data[:2]) in (b"P6", b"P5"):
        return _decode_pnm(data)
    if bytes(data[:2]) == b"BM":
        return _decode_bmp(data)
    if bytes(data[:2]) == b"\xff\xd8":
        try:
            return _decode_jpeg(data)
        except NotImplementedError:
            if HAVE_PIL:
                return _decode_pillow(data)
            raise
    if bytes(data[:8]) == _PNG_SIG:
        try:
            return _decode_png(data)
        except NotImplementedError:
            if HAVE_PIL:
                return _decode_pillow(data)
            raise
    if HAVE_PIL:
        return _decode_pillow(data)
    raise NotImplementedError(
        "this payload needs a codec library (binary PNM, 24-bit BMP, "
        "baseline JPEG and non-interlaced 8-bit PNG decode natively); "
        "install Pillow for progressive-JPEG/Adam7/16-bit payloads"
    )


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Derive a media table from the documents fixture: the UTF-8 bytes
    of the text stand in for an encoded media payload."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.col("n_chars").alias("meta_n_chars"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Per-media feature extraction via mapInPandas.

    With a real codec this is where decode_image would run; the
    deterministic fake derives features purely from the payload so the
    DuckDB oracle can verify the plumbing end-to-end:
      n_bytes   — payload size
      width     — n_bytes mod 640   (fake "decoded" dimension)
      height    — (7 * n_bytes) mod 480
      checksum  — sum of the code points of the first 64 CHARACTERS
                  (character-based, matching the SQL oracle's
                  ascii(substr(...)) on any UTF-8 input, not just ASCII)
    NULL payloads yield NULL features (the oracle's arithmetic over
    NULL does the same) instead of crashing the Python worker.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_bytes, width, height, checksum = [], [], [], []
            for b in pdf["content"]:
                if b is None:
                    n_bytes.append(None)
                    width.append(None)
                    height.append(None)
                    checksum.append(None)
                    continue
                n = len(b)
                n_bytes.append(n)
                width.append(n % 640)
                height.append((7 * n) % 480)
                checksum.append(sum(ord(c) for c in bytes(b).decode("utf-8")[:64]))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.array(n_bytes, dtype="Int32"),
                    "width": pd.array(width, dtype="Int32"),
                    "height": pd.array(height, dtype="Int32"),
                    "checksum": pd.array(checksum, dtype="Int64"),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def _payload_stats(content: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) of one decoded payload —
    THE stats definition, shared by the fail-loud and quarantine
    variants so they cannot drift apart (their clean-subset parity is
    test-pinned).  Grayscale reports its single channel as r=g=b;
    alpha-bearing decodes (PNG RGBA / gray+alpha) report the COLOR
    channels and ignore alpha — stats are about pixel content, not
    transparency."""
    w, h, ch, px = decode_image(content)
    if ch >= 3:  # RGB / RGBA (alpha at stride offset 3, excluded)
        return w, h, sum(px[0::ch]), sum(px[1::ch]), sum(px[2::ch])
    s = sum(px[0::ch])  # gray / gray+alpha: first channel only
    return w, h, s, s, s


def decoded_image_stats(media: DataFrame) -> DataFrame:
    """Per-media stats computed from REAL decoded pixels — the stage
    that proves the decode path executes inside the Arrow plumbing
    (not just the byte-level fake): decode_image each payload, then
    integer per-channel sums (grayscale payloads report the single
    channel as r=g=b).  Integer sums, never float means — exact on
    every engine, so the DuckDB oracle can hash-verify the decode.

    Scale shape: same as extract_features — a narrow Arrow-batched
    map, no shuffle; pixels never leave the worker, only the
    fixed-width stats row does.  NULL payloads yield no row (a real
    decode pipeline routes them to a quarantine instead)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, srs, sgs, sbs = [], [], [], [], [], []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                w, h, sr, sg, sb = _payload_stats(bytes(content))
                ids.append(media_id)
                ws.append(w)
                hs.append(h)
                srs.append(sr)
                sgs.append(sg)
                sbs.append(sb)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "sum_r": pd.Series(srs, dtype="int64"),
                    "sum_g": pd.Series(sgs, dtype="int64"),
                    "sum_b": pd.Series(sbs, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, DECODED_STATS_SCHEMA)


QUARANTINE_STATS_SCHEMA = (
    "media_id BIGINT, width INT, height INT, "
    "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT, decode_error STRING"
)


def decoded_image_stats_quarantine(media: DataFrame) -> DataFrame:
    """decoded_image_stats with a QUARANTINE lane — the production
    posture for 100 TB of scraped media, where some payloads WILL be
    corrupt and one bad byte must not kill a thousand-executor job:
    every payload yields exactly one row; successful decodes carry
    stats and decode_error = NULL, failures carry NULL stats and the
    decoder's message (ValueError / NotImplementedError — the
    worker-safety contract the corruption fuzz pins; anything else
    would still crash loudly, by design).  Route the failures to a
    quarantine table with `.filter("decode_error IS NOT NULL")` and
    reprocess after a decoder fix; NULL payloads quarantine as
    'null payload'.

    Same scale shape as the fail-loud variant: a narrow Arrow-batched
    map, no shuffle, pixels never leave the worker."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "sum_r", "sum_g", "sum_b",
                    "decode_error")}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(media_id)
                err = None
                w = h = sr = sg = sb = None
                if content is None:
                    err = "null payload"
                else:
                    try:
                        w, h, sr, sg, sb = _payload_stats(bytes(content))
                    except (ValueError, NotImplementedError) as e:
                        w = h = sr = sg = sb = None
                        err = f"{type(e).__name__}: {e}"
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(sr)
                out["sum_g"].append(sg)
                out["sum_b"].append(sb)
                out["decode_error"].append(err)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                    "sum_r": pd.array(out["sum_r"], dtype="Int64"),
                    "sum_g": pd.array(out["sum_g"], dtype="Int64"),
                    "sum_b": pd.array(out["sum_b"], dtype="Int64"),
                    "decode_error": pd.Series(out["decode_error"], dtype=object),
                }
            )

    return media.mapInPandas(batches, QUARANTINE_STATS_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """One-to-many frame sampling via mapInPandas: each payload is cut
    into `n_frames` evenly-spaced slices (the batch shape a real video
    frame-sampler produces: input row → multiple output rows)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_bytes, out_len = [], [], [], []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue  # no payload, no frames
                size = len(content)
                step = max(size // n_frames, 1)
                for i in range(n_frames):
                    start = i * step
                    if start >= size:
                        break
                    frame = bytes(content[start : start + step])
                    out_ids.append(media_id)
                    out_idx.append(i)
                    out_bytes.append(frame)
                    out_len.append(len(frame))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_bytes": pd.Series(out_bytes, dtype=object),
                    "frame_len": pd.Series(out_len, dtype="int32"),
                }
            )

    return media.mapInPandas(batches, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio modality: pure-Python RIFF/WAVE PCM decode (8-bit unsigned /
# 16-bit signed LE, any channel count) + Arrow-batched waveform stats.
# Same architecture as the image lane — bounded pre-allocation guards,
# ValueError for corruption, NotImplementedError for valid-but-
# unsupported codecs (float32/ADPCM/mu-law/extensible route to the
# quarantine lane; a codec library would slot in exactly like Pillow).
# ---------------------------------------------------------------------------

# pre-allocation cap, the audio analogue of PNG_MAX_PIXELS: 2^26 total
# samples (= 64 MiB of int16 mono, ~23 min at 48 kHz) checked from the
# header before any allocation.
WAV_MAX_SAMPLES = 1 << 26


class _G711:
    """Lazily-built ITU-T G.711 expansion LUTs (the canonical Sun
    g711.c integer mappings — exact, no floats): 256-entry int32
    tables indexed by the companded byte.  Pinned in tests against
    published table values (mu-law 0x00 → −32124, 0xFF → 0; A-law
    0x55 → −8, 0xD5 → +8) plus sign symmetry and monotonicity."""

    _cache: dict = {}

    def __class_getitem__(cls, law: str):
        if law not in cls._cache:
            import numpy as np

            out = np.empty(256, dtype=np.int32)
            for b in range(256):
                if law == "ulaw":
                    u = ~b & 0xFF
                    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
                    out[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
                else:
                    a = b ^ 0x55
                    t = (a & 0x0F) << 4
                    seg = (a & 0x70) >> 4
                    if seg == 0:
                        t += 8
                    elif seg == 1:
                        t += 0x108
                    else:
                        t = (t + 0x108) << (seg - 1)
                    out[b] = t if (a & 0x80) else -t
            cls._cache[law] = out
        return cls._cache[law]


def encode_pcm_wav(
    sample_rate: int, channels: list[list[int]], bits: int = 16
) -> bytes:
    """Minimal RIFF/WAVE PCM encoder (test/fixture side): interleaves
    `channels` (equal-length integer sample lists; 16-bit signed or
    8-bit unsigned ranges) into a canonical fmt+data layout."""
    import struct

    if bits not in (8, 16):
        raise ValueError(f"bits must be 8 or 16: {bits}")
    n_ch = len(channels)
    if n_ch == 0 or len({len(c) for c in channels}) > 1:
        raise ValueError("channels must be non-empty and equal-length")
    n_frames = len(channels[0])
    block = n_ch * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * block, block, bits
    )
    frames = bytearray()
    pack = "<h" if bits == 16 else "<B"
    for i in range(n_frames):
        for c in channels:
            frames += struct.pack(pack, c[i])
    data = bytes(frames)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio(data: bytes):
    """Pure-Python WAV decode → (sample_rate, n_channels, n_frames,
    samples) where samples is an int32 numpy array of shape
    (n_frames, n_channels), CENTERED (8-bit unsigned payloads are
    shifted by −128 so silence is 0 in both widths).

    Loud-failure contract (the audio quarantine lane catches exactly
    these): ValueError for structural corruption — bad RIFF/WAVE
    magic, truncated chunk walks, zero channels/block-align, a data
    chunk that is not a whole number of frames, over-cap sample
    counts, missing fmt/data; NotImplementedError for valid streams
    this decoder doesn't cover — any wFormatTag other than PCM(1),
    A-law(6) or mu-law(7) (IEEE-float 3 and extensible 0xFFFE route
    to quarantine) and any PCM depth other than 8/16.  G.711 bytes
    expand through the exact ITU integer LUTs (_G711)."""
    import struct

    import numpy as np

    if bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {bytes(data[:4])!r})"
        )
    pos, n = 12, len(data)
    fmt_body: bytes | None = None
    pcm: bytes | None = None
    while pos + 8 <= n:
        cid = bytes(data[pos : pos + 4])
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        if clen > n - pos - 8:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        body = bytes(data[pos + 8 : pos + 8 + clen])
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            pcm = body
            # fmt must precede data per spec; tolerate either order
            # but stop scanning once both are in hand
            if fmt_body is not None:
                break
    if fmt_body is None:
        raise ValueError("WAV missing fmt chunk")
    if pcm is None:
        raise ValueError("WAV missing data chunk")
    if len(fmt_body) < 16:
        raise ValueError(f"WAV fmt chunk too short ({len(fmt_body)})")
    codec, n_ch, rate, _brate, block, bits = struct.unpack_from(
        "<HHIIHH", fmt_body
    )
    if codec not in (1, 6, 7):
        raise NotImplementedError(
            f"only PCM/A-law/mu-law WAV supported (wFormatTag {codec})"
        )
    if codec in (6, 7):
        if bits != 8:
            raise ValueError(
                f"G.711 WAV must be 8-bit (bits {bits})"
            )
    elif bits not in (8, 16):
        raise NotImplementedError(
            f"only 8/16-bit PCM supported (bits {bits})"
        )
    if n_ch == 0:
        raise ValueError("WAV declares zero channels")
    if block != n_ch * (bits // 8):
        raise ValueError(
            f"WAV block align {block} != channels*width {n_ch * (bits // 8)}"
        )
    if len(pcm) % block:
        raise ValueError(
            f"WAV data size {len(pcm)} not a whole number of "
            f"{block}-byte frames"
        )
    n_frames = len(pcm) // block
    if n_frames * n_ch > WAV_MAX_SAMPLES:
        raise ValueError(
            f"WAV declares {n_frames * n_ch} samples > cap {WAV_MAX_SAMPLES}"
        )
    if codec == 6:
        arr = _G711["alaw"][np.frombuffer(pcm, dtype=np.uint8)]
    elif codec == 7:
        arr = _G711["ulaw"][np.frombuffer(pcm, dtype=np.uint8)]
    elif bits == 16:
        arr = np.frombuffer(pcm, dtype="<i2").astype(np.int32)
    else:
        arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int32) - 128
    return rate, n_ch, n_frames, arr.reshape(n_frames, n_ch)


def _audio_payload_stats(content: bytes):
    """(sample_rate, n_channels, n_frames, sum_abs, peak_abs,
    n_zero_cross) of one decoded payload — integer stats only, so the
    DuckDB oracle replays them exactly.  Zero crossings count sign
    flips of channel 0 between consecutive frames (negative vs
    non-negative — the closed-form-friendly convention)."""
    import numpy as np

    rate, n_ch, n_frames, arr = decode_audio(content)
    sum_abs = int(np.abs(arr).sum(dtype=np.int64)) if n_frames else 0
    peak = int(np.abs(arr).max()) if n_frames else 0
    if n_frames > 1:
        neg = arr[:, 0] < 0
        n_zc = int((neg[1:] != neg[:-1]).sum())
    else:
        n_zc = 0
    return rate, n_ch, n_frames, sum_abs, peak, n_zc


AUDIO_STATS_SCHEMA = (
    "media_id BIGINT, sample_rate INT, n_channels INT, n_frames BIGINT, "
    "sum_abs BIGINT, peak_abs INT, n_zero_cross BIGINT"
)

AUDIO_QUARANTINE_SCHEMA = AUDIO_STATS_SCHEMA + ", decode_error STRING"


def decoded_audio_stats(media: DataFrame) -> DataFrame:
    """Per-media waveform stats from REAL decoded PCM — the audio
    twin of decoded_image_stats: decode_audio each payload inside the
    Arrow-batched map, report integer stats (sum of |samples|, peak,
    channel-0 zero crossings).  Same scale shape: narrow map, no
    shuffle, samples never leave the worker.  NULL payloads yield no
    row (the quarantine variant is the production posture)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = {k: [] for k in (
                "media_id", "sample_rate", "n_channels", "n_frames",
                "sum_abs", "peak_abs", "n_zero_cross",
            )}
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                r, ch, nf, sa, pk, zc = _audio_payload_stats(bytes(content))
                for k, v in zip(cols, (media_id, r, ch, nf, sa, pk, zc)):
                    cols[k].append(v)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(cols["media_id"], dtype="int64"),
                    "sample_rate": pd.Series(cols["sample_rate"], dtype="int32"),
                    "n_channels": pd.Series(cols["n_channels"], dtype="int32"),
                    "n_frames": pd.Series(cols["n_frames"], dtype="int64"),
                    "sum_abs": pd.Series(cols["sum_abs"], dtype="int64"),
                    "peak_abs": pd.Series(cols["peak_abs"], dtype="int32"),
                    "n_zero_cross": pd.Series(cols["n_zero_cross"], dtype="int64"),
                }
            )

    return media.mapInPandas(batches, AUDIO_STATS_SCHEMA)


def decoded_audio_stats_quarantine(media: DataFrame) -> DataFrame:
    """decoded_audio_stats with the quarantine lane: every payload
    yields exactly one row — successes carry stats and a NULL
    decode_error, failures carry NULL stats and the decoder's message
    (ValueError / NotImplementedError, the same worker-safety
    contract the image fuzz pins)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    rows.append((media_id,) + (None,) * 6 + ("null payload",))
                    continue
                try:
                    rows.append(
                        (media_id,)
                        + _audio_payload_stats(bytes(content))
                        + (None,)
                    )
                except (ValueError, NotImplementedError) as e:
                    rows.append(
                        (media_id,) + (None,) * 6
                        + (f"{type(e).__name__}: {e}",)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels", "n_frames",
                    "sum_abs", "peak_abs", "n_zero_cross", "decode_error",
                ],
            ).astype(
                {
                    "media_id": "int64",
                    "sample_rate": "Int32",
                    "n_channels": "Int32",
                    "n_frames": "Int64",
                    "sum_abs": "Int64",
                    "peak_abs": "Int32",
                    "n_zero_cross": "Int64",
                }
            )

    return media.mapInPandas(batches, AUDIO_QUARANTINE_SCHEMA)
