"""Perceptual near-duplicate detection for decoded media — the image
lane's dedup story, mirroring the text detectors' shape (detect →
persisted index → increment-cost matching → right-to-be-forgotten).

The fingerprint is dHash (difference hash): grayscale the decoded
raster, area-downsample to a (grid+1)×grid luminance grid, emit one
bit per horizontal neighbor comparison (left < right).  dHash is the
standard cheap perceptual hash: invariant to re-encoding (PNG ↔ BMP ↔
PNM of the same raster decode to identical pixels → identical bits),
to uniform brightness shifts (comparisons see differences only), and
to integer upscaling (block means recover the original samples), while
a visually different image flips ~half the bits.  Near-duplicates are
found with the same band-bucket machinery the SimHash/winnowing
detectors use: split the 64-bit hash into four 16-bit bands, bucket on
(band_idx, band_val) — two hashes within hamming distance 3·k of each
other share at least one of 4 bands whenever at most 3 bands carry
all the differing bits (pigeonhole: ≤ `max_hamming` ≤ 6 differing
bits can occupy at most 6 < 4·2 bands... precisely: any pair with
hamming ≤ 6 that distributes its flips into ≤ 3 bands is caught; a
pair flipping bits in all 4 bands needs ≥ 4 flips and is caught iff
some band is clean — the standard banded-LSH recall/precision trade,
verified EXACTLY afterwards: candidates are re-checked with the full
64-bit hamming distance, so false bucket collisions never survive).

Scale shape (the 100 TB story):
- Hashing is a narrow Arrow-batched map over the media table; pixels
  never leave the worker — only (media_id, 4 band ints, hash) does.
  Every hash and fingerprint lane here is a row function handed to
  multimodal._media_map, the one decode map, which also owns the one
  bad-payload policy (fail-loud vs quarantine).
- The pair join buckets on (band_idx, band_val) with a hot-band cap
  (distinct media per bucket ≤ `band_cap`): a constant-color artifact
  class (tracking pixels, solid thumbnails) all hash to dhash 0 and
  would otherwise hand the self-join a quadratic bucket.  Capped
  BEFORE the join, like every hot-key guard in this engine.
- The persisted index is 4 rows per image; increments equi-join it at
  |increment| cost and never re-hash the corpus.
- Right-to-be-forgotten: operators/corpus.py forget_index_rows with
  id_col='media_id' (the index is media-keyed like every other
  detector index; deleting one image's rows cannot change another's).

Reference scope: the reference repo (warehouse.py — a row-at-a-time
MySQL ETL) has no media pipeline at all; this module is north-star
surface for LLM training-data curation, built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import cut_lineage
from datawarehouse_code_spark.operators.multimodal import (
    _media_map,
    decode_audio,
    decode_image,
)

DHASH_SCHEMA = (
    "media_id BIGINT, b0 INT, b1 INT, b2 INT, b3 INT, dhash BIGINT"
)


def dhash_bits(
    width: int, height: int, n_channels: int, pixels: bytes, grid: int = 8
) -> tuple[int, int, int, int]:
    """dHash of one decoded raster as four `grid*2`-bit band values
    (band k packs grid-bit rows 2k and 2k+1; row byte bit c is set iff
    the area-downsampled luminance strictly increases from grid column
    c to c+1).  Deterministic and engine-independent: grayscale is the
    float64 mean of the first three channels (the single channel for
    gray/gray+alpha), downsampling is block means over the integer
    partition x ∈ [floor(c·W/(grid+1)), floor((c+1)·W/(grid+1))) —
    exact integer recovery when W and H are multiples, which is what
    makes the closed-form oracle fixtures possible.

    Images smaller than the grid have no defined downsample blocks
    and raise ValueError (the quarantine contract: loud, never a
    silent wrong hash); an odd `grid` would silently drop the last
    row's bits from the band packing and is rejected the same way."""
    import numpy as np

    if grid % 2:
        raise ValueError(f"dHash grid must be even (got {grid})")
    gw, gh = grid + 1, grid
    if width < gw or height < gh:
        raise ValueError(
            f"image {width}x{height} smaller than the {gw}x{gh} dHash grid"
        )
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, n_channels
    )
    g = _gray_block_means(_to_gray(a, n_channels), gw, gh)
    bits = g[:, 1:] > g[:, :-1]  # (gh, grid) booleans
    weights = 1 << np.arange(grid, dtype=np.int64)
    row_bytes = (bits * weights).sum(axis=1).astype(np.int64)
    return tuple(
        int(row_bytes[2 * k] | (row_bytes[2 * k + 1] << grid))
        for k in range(gh // 2)
    )


PHASH_SCHEMA = (
    "media_id BIGINT, b0 INT, b1 INT, b2 INT, b3 INT, phash BIGINT"
)

# the pHash downsample grid — the ONE constant every size gate
# derives from (phash_bits sizing, image_phash/skip_small, the
# combined map's per-algo nullability, the frame-pHash skip)
PHASH_SIZE = 32

_DCT_BASES: dict[int, object] = {}


def _dct_basis(n: int):
    """Orthonormal DCT-II basis matrix (cached per worker process):
    D[u,x] = c(u)·cos(π(2x+1)u / 2n), c(0)=√(1/n), else √(2/n)."""
    import numpy as np

    if n not in _DCT_BASES:
        x = np.arange(n, dtype=np.float64)
        d = np.cos(np.pi * (2 * x[None, :] + 1) * x[:, None] / (2 * n))
        d *= np.sqrt(2.0 / n)
        d[0] *= np.sqrt(0.5)
        _DCT_BASES[n] = d
    return _DCT_BASES[n]


def _gray_block_means(gray, gw: int, gh: int):
    """Area-downsample a float64 grayscale array to gw×gh block means
    over the integer partition x ∈ [floor(c·W/gw), floor((c+1)·W/gw))
    — two reduceat passes, exact integer recovery when W and H are
    multiples (the shared downsample of dhash_bits and phash_bits)."""
    import numpy as np

    height, width = gray.shape
    if width == gw and height == gh:
        return gray  # identity — the oracle-fixture fast path
    xs = np.array([(c * width) // gw for c in range(gw + 1)])
    ys = np.array([(r * height) // gh for r in range(gh + 1)])
    col = np.add.reduceat(gray, xs[:-1], axis=1)
    blk = np.add.reduceat(col, ys[:-1], axis=0)
    areas = (
        (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    ).astype(np.float64)
    return blk / areas


def _to_gray(a, n_channels: int):
    """float64 grayscale: mean of the first three channels, or the
    single channel for gray / gray+alpha."""
    import numpy as np  # noqa: F401 — dtype literal below

    return (
        a[:, :, :3].mean(axis=2, dtype="float64")
        if n_channels >= 3
        else a[:, :, 0].astype("float64")
    )


def phash_bits(
    width: int,
    height: int,
    n_channels: int,
    pixels: bytes,
    size: int = PHASH_SIZE,
    block: int = 8,
) -> tuple[int, int, int, int]:
    """DCT perceptual hash (pHash) of one decoded raster as four
    16-bit band values in the SAME band layout as dhash_bits (band k
    packs block-rows 2k and 2k+1; bit c of a row is set iff the DCT
    coefficient strictly exceeds the median): grayscale →
    area-downsample to `size`×`size` → orthonormal 2D DCT-II → the
    top-left `block`×`block` low-frequency coefficients → threshold
    at the median of the 63 NON-DC coefficients (the DC bit compares
    the same median, so a uniform brightness shift — which moves ONLY
    the DC coefficient under a linear transform — flips at most that
    one bit).

    Invariance envelope (each construction-pinned in tests):
    re-encoding (identical rasters), box/bilinear downscale from an
    integer multiple (the `size`-grid block means recover the same
    values EXACTLY — the interpolated-rescale robustness dHash's
    neighbor comparisons lack), brightness shift (hamming ≤ 1, the DC
    bit).  Same loud-failure contract as dhash_bits: images smaller
    than the `size` grid have undefined blocks and raise ValueError;
    an odd `block` would mis-pack the bands and is rejected.

    The band layout being dhash_bits' means the ENTIRE band machinery
    — _explode_bands, the distinct-carrier cap, dhash_near_dup_pairs,
    build_dhash_index, dhash_matches_incremental, video_image_matches
    — runs unchanged on pHash tables; keep the two algos in separate
    index tables (their band spaces are unrelated — joining them
    would propose garbage candidates)."""
    import numpy as np

    if block % 2:
        raise ValueError(f"pHash block must be even (got {block})")
    if width < size or height < size:
        raise ValueError(
            f"image {width}x{height} smaller than the {size}x{size} "
            "pHash grid"
        )
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, n_channels
    )
    g = _gray_block_means(_to_gray(a, n_channels), size, size)
    d = _dct_basis(size)
    coefs = (d @ g @ d.T)[:block, :block]
    flat = coefs.ravel()
    med = float(np.median(flat[1:]))  # DC excluded from the median
    bits = coefs > med
    weights = 1 << np.arange(block, dtype=np.int64)
    row_bytes = (bits * weights).sum(axis=1).astype(np.int64)
    return tuple(
        int(row_bytes[2 * k] | (row_bytes[2 * k + 1] << block))
        for k in range(block // 2)
    )


def image_phash(media: DataFrame, skip_small: bool = False) -> DataFrame:
    """Per-media DCT pHash over REAL decoded pixels — the second
    perceptual fingerprint beside image_dhash, covering the rescale
    envelope dHash excludes (media_dedup.py's documented limitation:
    dHash is construction-invariant only to re-encode/brightness/
    integer-upscale; an interpolated rescale flips its neighbor bits
    unpredictably, while the DCT's low-frequency block survives it).
    Same narrow Arrow-batched map, same (media_id, b0..b3, hash)
    schema and 16-bit band layout as image_dhash, so the pair join,
    persisted index, incremental matcher and RTBF run unchanged on
    this table — build a SEPARATE index per algo (the band spaces are
    unrelated).

    `skip_small=True` silently yields no row for a healthy image
    below the PHASH_SIZE grid instead of raising — the index
    MAINTAINER's contract (a small image has no rescale envelope to
    index; its re-delivery still sheds stale rows via replace_keyed
    on the batch's ids).  Decode failures stay loud either way — bad
    payloads belong to the quarantine lanes upstream.

    The downsample grid is PHASH_SIZE, not a parameter: the band
    schema packs 4x16-bit bands, which pins the 8x8 DCT block and
    the 32x32 grid (r13 ADVICE — a `size=` knob that raised on every
    value but 32 was dead API surface; phash_bits keeps the real
    parameter for other grids)."""

    def rows(content: bytes):
        w, h, ch, px = decode_image(content)
        if skip_small and (w < PHASH_SIZE or h < PHASH_SIZE):
            return []
        bands = phash_bits(w, h, ch, px)
        return [(*bands, _pack64(bands))]

    return _media_map(media, rows, PHASH_SCHEMA)


def _pack64(bands) -> int:
    """The 64-bit hash of four 16-bit band values, band 0 in the low
    16 bits, as a signed BIGINT (bit 63 set reads negative)."""
    u = sum(b << (16 * k) for k, b in enumerate(bands))
    return u - (1 << 64) if u >> 63 else u


def _dhash_rows(content: bytes):
    """The one dHash row of a payload: (b0..b3, dhash)."""
    w, h, ch, px = decode_image(content)
    bands = dhash_bits(w, h, ch, px)
    return [(*bands, _pack64(bands))]


def image_dhash(media: DataFrame) -> DataFrame:
    """Per-media dHash over REAL decoded pixels: decode_image each
    payload (operators/multimodal.py — PNM/BMP/JPEG/PNG or Pillow),
    compute the four 16-bit band values and the combined 64-bit hash.
    A narrow Arrow-batched map, no shuffle; NULL payloads yield no row
    (route through the quarantine stats lane first in a production
    pipeline).  `dhash` packs the bands little-endian (band 0 in the
    low 16 bits) as a signed BIGINT, so bit 63 set reads as a
    negative value — compare hashes via the band columns when a
    cross-engine oracle is in play.

    The grid is dhash_bits' default 8, not a parameter: the schema's
    four 16-bit bands and 64-bit pack are a contract shared with the
    index, the matchers and the oracles (use dhash_bits directly for
    other grids)."""
    return _media_map(media, _dhash_rows, DHASH_SCHEMA)


def _explode_bands(hashes: DataFrame) -> DataFrame:
    """(media_id, b0..b3) → one row per band: (media_id, band_idx,
    band_val, b0..b3) — the bucketing key plus the full hash carried
    along so candidate verification needs no second join."""
    return hashes.select(
        "media_id", "b0", "b1", "b2", "b3",
        F.expr(
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)"
        ),
    )


def _cap_hot_bands(
    bands: DataFrame, cap: int, id_col: str = "media_id"
) -> DataFrame:
    """Drop band buckets carried by more than `cap` DISTINCT media —
    the quadratic-bucket guard (same distinct-carrier grain as
    cap_hot_chunks)."""
    cold = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.countDistinct(id_col).alias("_k"))
        .filter(F.col("_k") <= cap)
        .select("band_idx", "band_val")
    )
    return bands.join(cold, ["band_idx", "band_val"], "left_semi")


def _hamming64() -> F.Column:
    """Exact 64-bit hamming distance from the paired band columns."""
    return sum(
        F.bit_count(
            F.col(f"b{k}").bitwiseXOR(F.col(f"c{k}")).cast("bigint")
        )
        for k in range(4)
    ).cast("int")


def dhash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    band_cap: int = 50,
) -> DataFrame:
    """Perceptual near-dup pairs from an image_dhash table: bucket on
    the four 16-bit bands (hot buckets capped at `band_cap` distinct
    media BEFORE the self-join), then verify every candidate pair with
    the exact 64-bit hamming distance — (d1, d2, n_shared_bands,
    hamming) for pairs at distance ≤ `max_hamming`.  Bucket-then-
    verify: band collisions only propose candidates; the hamming check
    is exact, so precision is 1.0 by construction and recall is the
    banded-LSH guarantee (any pair whose flipped bits leave one band
    clean is proposed — always true for hamming ≤ 3 here, pigeonhole
    over 4 bands... exactly: ≤ 3 flips occupy ≤ 3 bands).

    The band table feeds four consumers (the cap's carrier count +
    semi-join, both self-join sides), so it is materialized once —
    the winnowing-fingerprint precedent; without it the decode+hash
    map re-runs per consumer."""
    bands = _cap_hot_bands(
        cut_lineage(_explode_bands(hashes)), band_cap
    )
    left = bands.select(
        F.col("media_id").alias("d1"), "band_idx", "band_val",
        "b0", "b1", "b2", "b3",
    )
    right = bands.select(
        F.col("media_id").alias("d2"), "band_idx", "band_val",
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
    )
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("hamming", _hamming64())
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shared_bands"),
            F.min("hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def build_dhash_index(
    media: DataFrame | None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """The persisted perceptual index of a media corpus: one row per
    (media_id, band) with the full hash's band columns carried — 4
    rows per image, computed ONCE per corpus build and stored beside
    it (the image sibling of build_cdc_index / build_winnowing_index).
    Increments (`dhash_matches_incremental`) equi-join this table and
    never re-decode the corpus.  The hot-band cap is applied at READ
    time by the incremental matcher (append-only maintenance can only
    push a bucket's carrier count up — capping at read keeps stream
    replays idempotent, the cap_hot_chunks rationale).  RTBF:
    forget_index_rows(…, id_col='media_id').  `hashes` (an
    image_dhash output) shares a materialized hash table across
    consumers, as the CDC operators' chunks= pass-through."""
    if hashes is None:
        hashes = image_dhash(media)
    return _explode_bands(hashes)


def dhash_matches_incremental(
    new_media: DataFrame | None,
    index: DataFrame,
    max_hamming: int = 6,
    band_cap: int = 50,
    new_hashes: DataFrame | None = None,
) -> DataFrame:
    """Perceptual matches between an increment and a PERSISTED dHash
    index: (d_new, d_corpus, n_shared_bands, hamming) for every new
    image within `max_hamming` of a corpus image — the nightly-
    increment shape: the increment is decoded and hashed fresh, the
    corpus is never re-read beyond the band equi-join, so cost scales
    with |increment|.  Hot index buckets are capped at `band_cap`
    distinct corpus media before the join.  `new_hashes` (an
    image_dhash output of the increment) shares a materialized hash
    table."""
    if new_hashes is None:
        new_hashes = image_dhash(new_media)
    inc = _explode_bands(new_hashes).select(
        F.col("media_id").alias("d_new"), "band_idx", "band_val",
        "b0", "b1", "b2", "b3",
    )
    idx = _cap_hot_bands(index, band_cap).select(
        F.col("media_id").alias("d_corpus"), "band_idx", "band_val",
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
    )
    return (
        inc.join(idx, ["band_idx", "band_val"])
        .filter(F.col("d_new") != F.col("d_corpus"))
        .withColumn("hamming", _hamming64())
        .groupBy("d_new", "d_corpus")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shared_bands"),
            F.min("hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------
# Audio fingerprints: the Haitsma-Kalker-family frame fingerprint over
# decoded PCM — windowed energies, coarse quantization, k-window grams
# matched by VALUE (never position), so a copy shifted by a whole
# number of hops still shares every overlapping gram.  The audio twin
# of the winnowing/CDC detectors: detect → persisted index →
# increment-cost matching → RTBF, with the same hot-key cap shape.

AUDIO_FP_SCHEMA = "media_id BIGINT, fp STRING"


def audio_fp_strings(
    samples, win: int = 16, hop: int = 8, gram: int = 4, qshift: int = 4
) -> list[str]:
    """The fingerprint set of one channel's int32 samples: energies of
    `win`-sample windows every `hop` samples (full windows only),
    right-shifted by `qshift` (coarse amplitude buckets — exact under
    identical or hop-aligned-shifted copies), then the md5 of each run
    of `gram` consecutive quantized energies, space-joined.  md5 of a
    decimal-rendered integer string is the engine-shared hash, so a
    DuckDB oracle replays fingerprints exactly.  Integer arithmetic
    throughout; deterministic; position never enters the value."""
    import hashlib

    import numpy as np

    n = len(samples)
    if n < win:
        return []
    cs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.abs(samples.astype(np.int64)), out=cs[1:])
    n_win = (n - win) // hop + 1
    starts = np.arange(n_win, dtype=np.int64) * hop
    q = (cs[starts + win] - cs[starts]) >> qshift
    if n_win < gram:
        return []
    return [
        hashlib.md5(
            " ".join(str(int(v)) for v in q[g: g + gram]).encode()
        ).hexdigest()
        for g in range(n_win - gram + 1)
    ]


def _audio_fp_rows(win: int, hop: int, gram: int, qshift: int):
    """The row function of both audio fingerprint lanes: one (fp,)
    row per distinct fingerprint of channel 0."""

    def rows(content: bytes):
        _rate, _ch, _n, arr = decode_audio(content)
        return [
            (fp,)
            for fp in set(audio_fp_strings(arr[:, 0], win, hop, gram, qshift))
        ]

    return rows


def audio_fingerprints(
    media: DataFrame,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
) -> DataFrame:
    """Per-media DISTINCT audio fingerprints from REAL decoded PCM:
    decode_audio each payload (RIFF walk + 8/16-bit PCM or G.711
    LUTs), fingerprint channel 0, emit (media_id, fp) distinct.  A
    narrow Arrow-batched map + one distinct; samples never leave the
    worker.  (win, hop, gram, qshift) are the index contract —
    increments must pass the same values."""
    return _media_map(
        media, _audio_fp_rows(win, hop, gram, qshift), AUDIO_FP_SCHEMA
    ).distinct()


def _cap_hot_fps(
    fps: DataFrame, cap: int, id_col: str = "media_id"
) -> DataFrame:
    """Drop fingerprints carried by more than `cap` DISTINCT media —
    digital silence and loop boilerplate are the audio analogues of
    the constant-color image and the boilerplate chunk."""
    cold = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_k"))
        .filter(F.col("_k") <= cap)
        .select("fp")
    )
    return fps.join(cold, "fp", "left_semi")


def audio_near_dup_pairs(
    media: DataFrame,
    min_shared: int = 2,
    hot_cap: int = 50,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
) -> DataFrame:
    """Audio near-dup pairs: (d1, d2, n_shared) for media sharing ≥
    `min_shared` distinct fingerprints, hot fingerprints capped at
    `hot_cap` distinct carriers BEFORE the self-join (the quadratic-
    bucket guard).  A copy shifted by m·hop samples shares all
    overlapping grams with its source — the shift-robustness fixed
    framings lack, at hop-sample granularity.  The fingerprint table
    feeds four consumers (cap + both join sides) and is materialized
    once, the winnowing precedent."""
    fps = _cap_hot_fps(
        cut_lineage(audio_fingerprints(media, win, hop, gram, qshift)),
        hot_cap,
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


def build_audio_fp_index(
    media: DataFrame,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
) -> DataFrame:
    """The persisted audio fingerprint index: (media_id, fp) distinct,
    computed ONCE per corpus build (the audio sibling of
    build_winnowing_index).  The hot-fp cap is applied at READ time by
    the incremental matcher (append-only maintenance only pushes
    carrier counts up — read-time capping keeps replays idempotent).
    RTBF: forget_index_rows(…, id_col='media_id')."""
    return audio_fingerprints(media, win, hop, gram, qshift)


def audio_matches_incremental(
    new_media: DataFrame,
    index: DataFrame,
    min_shared: int = 1,
    hot_cap: int = 50,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
) -> DataFrame:
    """Increment-vs-corpus audio matching through the persisted
    fingerprint index: (d_new, d_corpus, n_shared) — the increment is
    decoded and fingerprinted fresh, the corpus is never re-decoded
    beyond the index equi-join, so cost scales with |increment|.
    Parameters must match the index build."""
    inc = audio_fingerprints(new_media, win, hop, gram, qshift).select(
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


DHASH_QUARANTINE_SCHEMA = DHASH_SCHEMA + ", decode_error STRING"
FP_QUARANTINE_SCHEMA = AUDIO_FP_SCHEMA + ", decode_error STRING"


def image_dhash_quarantine(media: DataFrame) -> DataFrame:
    """image_dhash with a QUARANTINE lane — the production shape for
    dirty crawls (the decoded_image_stats_quarantine doctrine): a
    payload the decoder rejects (ValueError) or cannot cover
    (NotImplementedError) yields one row with NULL hash columns and
    the error string instead of killing the batch job; healthy rows
    carry decode_error NULL.  Filter on decode_error IS NULL before
    the pair join; route the rest to the quarantine table."""
    return _media_map(
        media, _dhash_rows, DHASH_QUARANTINE_SCHEMA, quarantine=True
    )


IMAGE_FPS_QUARANTINE_SCHEMA = (
    "media_id BIGINT, b0 INT, b1 INT, b2 INT, b3 INT, dhash BIGINT, "
    "p0 INT, p1 INT, p2 INT, p3 INT, phash BIGINT, decode_error STRING"
)


def image_fingerprints_quarantine(media: DataFrame) -> DataFrame:
    """BOTH perceptual image fingerprints — dHash (b0..b3, dhash) and
    DCT pHash (p0..p3, phash) — from ONE decode per payload, with the
    quarantine lane: the streaming image gate's map (a gate that
    matched on both algos through image_dhash_quarantine +
    image_phash would decode every payload twice, violating the
    one-decode doctrine the unified multimodal gate pins).

    Per-algo nullability: a payload the decoder rejects quarantines
    the whole row (decode_error set, all hash columns NULL); a
    HEALTHY image smaller than the `size`×`size` pHash grid keeps its
    dHash columns with pHash columns NULL and decode_error NULL —
    small images simply have no rescale envelope to protect, and
    quarantining them would evict payloads the dHash gate handles
    fine.  (dHash needs only (grid+1)×grid; anything below that fails
    decode-side sizing and quarantines loudly.)

    Grid and size are the image_dhash/image_phash constants, not
    parameters (r13 ADVICE): the combined schema packs both algos'
    4x16-bit bands, which pins the 8-px dHash grid and the
    PHASH_SIZE downsample — a knob that raised on every other value
    was dead API surface."""

    def rows(content: bytes):
        w, h, ch, px = decode_image(content)
        db = dhash_bits(w, h, ch, px)
        if w < PHASH_SIZE or h < PHASH_SIZE:
            return [(*db, _pack64(db)) + (None,) * 5]
        pb = phash_bits(w, h, ch, px)
        return [(*db, _pack64(db), *pb, _pack64(pb))]

    return _media_map(
        media, rows, IMAGE_FPS_QUARANTINE_SCHEMA, quarantine=True
    )


def phash_view(fps: DataFrame) -> DataFrame:
    """Project a combined image_fingerprints_quarantine table onto
    the pHash band layout (media_id, b0..b3) so the UNCHANGED band
    machinery — _explode_bands, dhash_near_dup_pairs,
    build_dhash_index, dhash_matches_incremental — runs on the pHash
    columns; drops the pHash-less small-image rows."""
    return fps.filter(F.col("phash").isNotNull()).select(
        "media_id",
        *[F.col(f"p{k}").alias(f"b{k}") for k in range(4)],
        F.col("phash").alias("dhash"),
    )


def audio_fingerprints_quarantine(
    media: DataFrame,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
) -> DataFrame:
    """audio_fingerprints with a QUARANTINE lane: corrupt or
    unsupported payloads yield ONE row with fp NULL and the error
    string; healthy media yield their distinct fingerprints with
    decode_error NULL (a fingerprint-less healthy item — too short
    for one window — yields no row, same as the fail-loud variant)."""
    return _media_map(
        media, _audio_fp_rows(win, hop, gram, qshift), FP_QUARANTINE_SCHEMA,
        quarantine=True,
    ).distinct()
