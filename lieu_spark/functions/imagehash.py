"""Perceptual image hashing + image near-dup detection.

Extends the multimodal surface from decode/metadata to actual IMAGE
DEDUP: payloads in any of the four natively-decoded containers
(BMP / PNG / GIF / baseline JPEG — functions/multimodal.py,
functions/jpeg.py) are decoded at the pixel level, converted to
integer luma, NN-downsampled, and hashed with the classic perceptual
hashes:

- **aHash** (average hash): 8x8 grayscale, bit i (= y*8+x, LSB-first)
  set iff pixel strictly exceeds the 8x8 mean — invariant under
  resizing and container re-encoding, tolerant to mild lossy noise;
- **dHash** (difference hash): 9x8 grayscale, bit set iff the right
  neighbor strictly exceeds the left — gradient-based, same 64-bit
  shape.

Near-dup pairs reuse the SimHash pigeonhole machinery
(operators/simhash_path.py) verbatim on the aHash column: the 64-bit
hash splits into ``chunks`` equal slices, any two hashes within
hamming distance ``chunks - 1`` collide on >= 1 slice, candidates are
confirmed JVM-side with ``bit_count(a XOR b)``. No all-pairs join ever
materializes — the plan is the same salted chunk-collision self-join
that survives the corpus-scale band path.

The ``synthetic_photo_payloads`` fixture makes the WHOLE chain
SQL-oracle-verifiable from arithmetic alone (the audio_meta /
video_meta technique): each doc's image is an 8x8 two-level
(40 / 200) master tile NN-upscaled into a real container, where the
tile's bit pattern is a Walsh-code word of ``doc_id % 16`` XOR up to
two per-doc bit flips — all pure integer functions of doc_id. Because
the upscale is block-constant and the NN pixel-center downsample maps
back into the same block, aHash/dHash recover the master tile's bits
EXACTLY for the lossless containers, and the JPEG arm upscales by 8 so
every JPEG block is constant (DC-only, bounded quantization error far
below the 160-level gap) — so even the entropy-coded arm reproduces
the exact bits. DuckDB re-derives every pair's hamming distance from
doc_id arithmetic; a match proves container encode -> real pixel
decode (zlib/LZW/Huffman) -> luma -> NN resize -> hash -> pigeonhole
blocking -> hamming verify end to end.

Reference analog: none (lieu is text/venue-only); this is the
training-data-pipeline multimodal dedup the brief asks for, built on
the same blocking shape as lieu's near_dupe_hashes
(/root/reference/lib/lieu/dedupe.py:250-325).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_HASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ahash", LongType()),
        StructField("dhash", LongType()),
    ]
)


def _decode_pixels(payload: bytes):
    """Dispatch on container magic to the native pixel decoders.
    Returns (format, (h, w[, c]) uint8 array)."""
    from .multimodal import _bmp_pixels, _gif_pixels, _png_pixels

    if payload[:2] == b"BM":
        return "bmp", _bmp_pixels(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png", _png_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif", _gif_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import _jpeg_pixels

        return "jpeg", _jpeg_pixels(payload)
    raise ValueError("unrecognized image container")


def _luma(img, fmt: str):
    """Integer BT.601 luma ((77R + 150G + 29B) >> 8 — exact identity on
    gray-as-RGB since the weights sum to 256). BMP rows store BGR, the
    other containers RGB; gray / gray+alpha use the gray channel."""
    img = np.asarray(img)
    if img.ndim == 2:
        return img
    c = img.shape[2]
    if c in (1, 2):  # gray / gray+alpha
        return img[:, :, 0]
    ch = img[:, :, :3].astype(np.uint32)
    if fmt == "bmp":
        b, g, r = ch[..., 0], ch[..., 1], ch[..., 2]
    else:
        r, g, b = ch[..., 0], ch[..., 1], ch[..., 2]
    return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)


def _pack_bits_lsb(bits) -> int:
    """Pack a flat 0/1 array into a SIGNED 64-bit int, bit i = element i
    (LSB-first) — two's-complement wrap so Spark's long holds it."""
    v = 0
    for i, b in enumerate(np.asarray(bits).reshape(-1).tolist()):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def ahash64(gray) -> int:
    """Average hash: NN-resize to 8x8, bit y*8+x set iff px > mean."""
    from .multimodal import _nn_resize

    small = _nn_resize(np.asarray(gray)[..., None], 8, 8)[:, :, 0].astype(np.int64)
    return _pack_bits_lsb(small > small.mean())


def dhash64(gray) -> int:
    """Difference hash: NN-resize to 9x8, bit y*8+x set iff the right
    neighbor strictly exceeds the left."""
    from .multimodal import _nn_resize

    small = _nn_resize(np.asarray(gray)[..., None], 9, 8)[:, :, 0].astype(np.int64)
    return _pack_bits_lsb(small[:, 1:] > small[:, :-1])


def perceptual_hash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """mapInPandas: binary image payloads -> (doc_id, format, width,
    height, ahash, dhash). Real pixel decode for all four native
    containers.

    ``on_error``: ``"raise"`` (default — fixture/oracle contract: a bad
    payload is a bug, fail loudly) or ``"quarantine"`` — the corpus-
    scale policy: ONE corrupt payload among billions must not kill the
    stage, so undecodable rows come back with format='error' and null
    dims/hashes instead (filter or route them to a quarantine sink; the
    null hashes can never join a chunk group, so downstream pair/decon
    results over the survivors are unchanged)."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', got {on_error!r}")
    quarantine = on_error == "quarantine"

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmt, w, h, ah, dh = [], [], [], [], []
            for payload in pdf[payload_col]:
                # quarantine catches EVERYTHING the payload can throw —
                # struct.error (truncated chunk), zlib.error (IDAT not
                # a zlib stream), TypeError (NULL payload), IndexError
                # (0x0 image reaching the resize) are all real corrupt-
                # payload shapes, none a ValueError subclass; the
                # contract is "a bad payload yields an error row",
                # not "a bad payload of the anticipated kind". Hashing
                # sits INSIDE the try for the same reason: a decodable
                # but degenerate image must quarantine too.
                try:
                    f, img = _decode_pixels(bytes(payload))
                    gray = _luma(img, f)
                    a_val, d_val = ahash64(gray), dhash64(gray)
                except Exception:
                    if not quarantine:
                        raise
                    fmt.append("error")
                    w.append(None)
                    h.append(None)
                    ah.append(None)
                    dh.append(None)
                    continue
                fmt.append(f)
                h.append(int(gray.shape[0]))
                w.append(int(gray.shape[1]))
                ah.append(a_val)
                dh.append(d_val)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": fmt,
                    "width": pd.array(w, dtype="Int32"),
                    "height": pd.array(h, dtype="Int32"),
                    "ahash": pd.array(ah, dtype="Int64"),
                    "dhash": pd.array(dh, dtype="Int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(hash_batch, IMAGE_HASH_SCHEMA)


def image_neardup_pairs(
    hashes: DataFrame,
    hamming_max: int = 6,
    chunks: int = 8,
    hot_chunk_cap: int | None = None,
) -> DataFrame:
    """(doc_id, ahash) -> (id_a, id_b, hamming) for all pairs within
    ``hamming_max``. Reuses the SimHash pigeonhole blocking operator on
    the aHash column: with ``chunks`` slices the collision guarantee
    covers hamming <= chunks - 1, so for hamming_max < chunks the
    result is EXACTLY the set of qualifying pairs (no recall loss), at
    chunk-equi-join cost instead of all-pairs.

    ``hot_chunk_cap`` is the corpus-scale skew guard: image corpora
    have pathological perceptual buckets (near-black frames, solid
    logos — millions of images sharing chunk bits), and one such bucket
    goes quadratic in the self-join. With the cap set, oversized chunk
    groups are salt-split (operators/lsh.salted_groups) — bounded
    buckets, but the pigeonhole guarantee degrades to probabilistic for
    SPLIT groups (a pair whose only colliding chunk was split can be
    missed; identical-hash pairs across sub-splits are the visible
    case). Default None keeps exact semantics for oracle-sized runs."""
    from ..config import DedupeConfig
    from ..operators.simhash_path import simhash_candidate_pairs

    if hamming_max >= chunks:
        raise ValueError(
            f"hamming_max={hamming_max} needs chunks > hamming_max for the "
            f"pigeonhole guarantee (got chunks={chunks})"
        )
    cfg = DedupeConfig(
        simhash_chunks=chunks,
        simhash_hamming_max=hamming_max,
        simhash_hot_chunk_cap=hot_chunk_cap,
    )
    feats = hashes.select(
        F.col("doc_id").alias("conv_id"), F.col("ahash").alias("simhash")
    )
    return simhash_candidate_pairs(feats, cfg)


# ---------------------------------------------------------------------------
# deterministic fixture (oracle-twin arithmetic)
# ---------------------------------------------------------------------------

PHOTO_GROUPS = 16  # Walsh-16 code: 16 groups, pairwise tile distance 32 bits
_PHOTO_HI, _PHOTO_LO = 200, 40


def _walsh16(g: int) -> int:
    """16-bit Walsh codeword: bit j = popcount(g & j) mod 2. Distinct
    codewords differ in exactly 8 of 16 bits."""
    return sum(((bin(g & j).count("1") & 1) << j) for j in range(16))


def expected_tile_bits(doc_id: int) -> int:
    """The 64-bit master-tile pattern for a doc: the Walsh word of
    ``doc_id % 16`` repeated 4x, XOR up to ``doc_id % 3`` single-bit
    flips at (doc_id*7) % 64 and (doc_id*13) % 64 (flips at the same
    position cancel — XOR semantics, mirrored by the SQL oracle)."""
    b = _walsh16(doc_id % PHOTO_GROUPS) * 0x0001000100010001
    if doc_id % 3 >= 1:
        b ^= 1 << ((doc_id * 7) % 64)
    if doc_id % 3 >= 2:
        b ^= 1 << ((doc_id * 13) % 64)
    return b


def expected_ahash(doc_id: int) -> int:
    """Signed-64 view of expected_tile_bits — what ``ahash64`` recovers
    from any fixture arm of this doc (strict > mean: the 200-level
    pixels are the set bits; an all-40 tile hashes to 0, which the
    pattern also encodes since bits=0 there)."""
    v = expected_tile_bits(doc_id)
    return v - (1 << 64) if v >= 1 << 63 else v


def photo_payload(doc_id: int) -> bytes:
    """One fixture payload: the doc's master tile (expected_tile_bits)
    rendered into a real container. The container and size key off the
    WITHIN-GROUP member index ``m = doc_id // 16`` (the group is
    ``doc_id % 16``, so ``doc_id % 4`` would be constant inside a group
    — the member index is what actually rotates): BMP / PNG / JPEG /
    GIF on ``m % 4``. Lossless arms NN-upscale 1-4x on ``(m // 4) % 4``
    (size varies WITHIN a perceptual group); the JPEG arm upscales 8x
    so every entropy-coded block is constant (DC-only — quantization
    error stays far below the 160-level threshold gap). PNG alternates
    gray/RGB on ``m % 8``; GIF exercises interlacing on ``m % 8 == 7``."""
    from .multimodal import _bmp_from_pixels, _gif_from_pixels, _png_from_pixels

    i = int(doc_id)
    bits = expected_tile_bits(i)
    flat = np.array([(bits >> j) & 1 for j in range(64)], dtype=np.uint8)
    tile = np.where(flat == 1, _PHOTO_HI, _PHOTO_LO).astype(np.uint8).reshape(8, 8)
    m = i // PHOTO_GROUPS
    k = 1 + (m // 4) % 4
    img = np.repeat(np.repeat(tile, k, axis=0), k, axis=1)
    arm = m % 4
    if arm == 0:
        return _bmp_from_pixels(np.stack([img] * 3, axis=-1))
    if arm == 1:
        src = img[..., None] if m % 8 == 1 else np.stack([img] * 3, axis=-1)
        return _png_from_pixels(src)
    if arm == 2:
        from .jpeg import encode_jpeg_baseline

        big = np.repeat(np.repeat(tile, 8, axis=0), 8, axis=1)
        return encode_jpeg_baseline(big, quality=90)
    return _gif_from_pixels(np.stack([img] * 3, axis=-1), interlace=m % 8 == 7)


def synthetic_photo_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic photo fixture: each id gets a REAL container
    payload whose PERCEPTUAL CONTENT is a pure integer function of the
    id — group ``doc_id % 16`` fixes the master tile, the container and
    pixel size rotate within the group (see ``photo_payload``), so
    near-dup groups span containers AND resolutions and only perceptual
    hashing can find them."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [photo_payload(int(i)) for i in pdf[id_col]],
                }
            )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    return df.select(F.col(id_col).cast("long").alias(id_col)).mapInPandas(gen, schema)


def image_decon_keep(
    train_hashes: DataFrame,
    eval_hashes: DataFrame,
    hamming_max: int = 6,
    chunks: int = 8,
    hot_chunk_cap: int | None = None,
) -> DataFrame:
    """Visual decontamination: drop every training image whose aHash is
    within ``hamming_max`` of ANY eval-set image — the media analog of
    the verbatim/semantic text decon stages. Cross-table pigeonhole
    blocking (each side's hash splits into ``chunks`` slices; a
    train-eval pair within hamming <= chunks-1 must collide on >= 1
    slice, so recall is exact for hamming_max < chunks), hamming
    confirmed JVM-side, then a left-anti join keeps the clean rows.
    The eval side is small by construction but NOT force-broadcast —
    the optimizer chooses (a forced hint on a data-dependent set is the
    OOM trap the boilerplate anti-join already closed).

    ``hot_chunk_cap`` is the skew guard for pathological perceptual
    buckets present on BOTH sides (millions of near-black training
    frames colliding with a near-black eval image on every chunk):
    train-side chunk groups above the cap are sub-bucketed with the
    same xxhash64 rule as image_neardup_pairs (lsh.match_pairs, the band
    cross join, over the chunk band family).
    Under the cap a contaminated image whose ONLY colliding chunk was
    split can evade decon (recovered by the other chunks-1 slices when
    any other chunk also collides) — default None keeps decon exact."""
    from ..config import DedupeConfig
    from ..operators.lsh import match_pairs
    from ..operators.simhash_path import chunk_band_table

    if hamming_max >= chunks:
        raise ValueError(
            f"hamming_max={hamming_max} needs chunks > hamming_max for the "
            f"pigeonhole guarantee (got chunks={chunks})"
        )
    cfg = DedupeConfig(
        simhash_chunks=chunks,
        simhash_hamming_max=hamming_max,
        simhash_hot_chunk_cap=hot_chunk_cap,
    )

    def chunked(hashes: DataFrame) -> DataFrame:
        return chunk_band_table(
            hashes.select(F.col("ahash").alias("simhash"), "doc_id"), cfg, "doc_id"
        )

    contaminated = (
        match_pairs(chunked(train_hashes), chunked(eval_hashes), cfg)
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    return train_hashes.join(contaminated, "doc_id", "left_anti")
