"""Multimodal column operators — decode / feature-extract / resize /
frame-sample over opaque ``binary`` payloads.

Design rules (the 100 TB contract):

* Payload bytes NEVER cross a shuffle — every operator here is a
  narrow map (``mapInPandas`` / scalar pandas UDF over Arrow batches)
  that projects binary into small typed columns; downstream shuffles
  carry only those.
* Python is batch-vectorized — the kernels loop per row only to call
  the codec (one ``zlib``/numpy call per image dominates), matching the
  reference's per-file hash loop shape (src/fs/hash.rs:60-69).
* Real image/video libraries are absent in this container: the decode
  seam (`fixtures.codec.decode_image`) tries Pillow first and falls
  back to the deterministic fake codec; payloads neither can read
  degrade to null rows rather than failing the job (the reference's
  error-fallback posture, src/fs.rs:242-262). Video decode is a STUB —
  a documented fake container format exercises the real Spark plumbing
  (schema, batch shape, partitioning) until a real decoder is wired in.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yadf_spark.fixtures import codec

# ---------------------------------------------------------------------------
# image metadata + features
# ---------------------------------------------------------------------------

META_SCHEMA = (
    "image_id string, fmt string, w int, h int, n_pixels long, "
    "mean_r double, mean_g double, mean_b double, std_gray double, ok boolean"
)


def decode_metadata(df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Decode each payload and emit typed metadata + channel statistics.

    ``mapInPandas`` so undecodable rows can still emit a row with
    ``ok=false`` (a filter-push-down-friendly quarantine flag)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from yadf_spark.fixtures.codec import decode_image, sniff_format

        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = decode_image(bytes(payload))
                    h, w, _ = px.shape
                    flat = px.reshape(-1, 3).astype(np.float64)
                    rows.append(
                        (
                            rid,
                            sniff_format(bytes(payload)),
                            w,
                            h,
                            w * h,
                            float(flat[:, 0].mean()),
                            float(flat[:, 1].mean()),
                            float(flat[:, 2].mean()),
                            float(flat.mean(axis=1).std()),
                            True,
                        )
                    )
                except Exception:
                    rows.append((rid, None, None, None, None, None, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "fmt", "w", "h", "n_pixels",
                    "mean_r", "mean_g", "mean_b", "std_gray", "ok",
                ],
            )

    return df.select(F.col(id_col).alias(id_col), F.col(bytes_col).alias(bytes_col)).mapInPandas(
        kernel, META_SCHEMA
    )


#: magic-byte table in sniff precedence order (fake codec first, then
#: the real-world signatures) — uppercase hex prefixes, mirroring
#: ``fixtures/codec.py sniff_format`` bit-for-bit so the JVM expression
#: and the Python kernel classify every payload identically
#: (pytest-gated differential test).
MAGIC_HEX = (
    ("59444650", "png"),  # fake-lossless YDFP
    ("5944464A", "jpeg"),  # fake-lossy  YDFJ
    ("89504E470D0A1A0A", "png"),  # real PNG
    ("FFD8", "jpeg"),  # real JPEG/JFIF
)


def sniffed_format_col(bytes_col: Column) -> Column:
    """Container format from magic bytes as a PURE JVM column expression
    (no Python, no decode): hex the first 8 payload bytes once, then a
    when-chain of prefix compares. Whole-stage-codegen friendly — at
    10^12 rows this is the difference between a scan-speed audit and a
    decode-speed one."""
    hx = F.hex(F.substring(bytes_col, 1, 8))
    expr: Column | None = None
    for magic, label in MAGIC_HEX:
        cond = F.substring(hx, 1, len(magic)) == F.lit(magic)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit("unknown"))


def format_audit(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Declared-vs-actual container-format audit — the web-corpus
    data-quality pass that catches lying Content-Type headers and
    mis-extensioned files BEFORE they hit the (expensive, quarantining)
    decode stage. Emits ``(id, declared, sniffed, mismatch)`` per row;
    a narrow codegen map over the scan, zero shuffle, zero Python.
    Reference analog: the scan filters reject by metadata the same way
    (src/fs.rs:42-58) — this generalizes 'trust nothing the filesystem
    declares' to the payload's own header."""
    sniffed = sniffed_format_col(F.col(bytes_col))
    return df.select(
        F.col(id_col).alias(id_col),
        F.col(fmt_col).alias("declared"),
        sniffed.alias("sniffed"),
        (F.col(fmt_col) != sniffed).alias("mismatch"),
    )


def resize_pixels(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Pure nearest-neighbor resize of an (h, w, 3) array (index gather).
    Module-level so the contract harness can replay it single-process as
    ground truth for the distributed ``resize_images`` path."""
    h, w, _ = px.shape
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return np.ascontiguousarray(px[yi][:, xi])


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Nearest-neighbor resize; returns ``(image_id, bytes)`` with the
    resized payload re-encoded losslessly. Pure-numpy kernel (index
    gather), no external imaging library needed."""

    def kernel(series: pd.Series) -> pd.Series:
        from yadf_spark.fixtures.codec import decode_image, encode_png

        out = []
        for payload in series:
            if payload is None:
                out.append(None)
                continue
            try:
                px = decode_image(bytes(payload))
                out.append(encode_png(resize_pixels(px, out_w, out_h)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    resize = F.pandas_udf(kernel, "binary")
    return df.select(F.col(id_col).alias(id_col), resize(F.col(bytes_col)).alias(bytes_col))


def embed_pixels(px: np.ndarray, dim: int = 64) -> np.ndarray:
    """The pure embedding kernel: channel-wise intensity histogram of an
    (h, w, 3) uint8 array, L2-normalized, quantized to float32. Module-
    level (not closed over by the UDF) so the contract harness can
    replay it single-process as ground truth for the distributed
    ``image_embedding`` path — the same stored-truth pattern the
    images_metadata oracle uses for w/h/fmt."""
    if dim % 4 != 0:
        raise ValueError(f"embedding dim must be a multiple of 4 (got {dim})")
    bins = dim // 4
    pxf = px.astype(np.float64)
    gray = pxf.mean(axis=2)
    vec = np.concatenate(
        [
            np.histogram(pxf[:, :, 0], bins=bins, range=(0, 256))[0],
            np.histogram(pxf[:, :, 1], bins=bins, range=(0, 256))[0],
            np.histogram(pxf[:, :, 2], bins=bins, range=(0, 256))[0],
            np.histogram(gray, bins=bins, range=(0, 256))[0],
        ]
    ).astype(np.float64)
    n = np.linalg.norm(vec)
    return (vec / n if n else vec).astype(np.float32)


def image_embedding(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Deterministic content embedding: a channel-wise intensity
    histogram, L2-normalized — the decode→feature seam a real CLIP-style
    encoder would occupy. Output ``(image_id, embedding array<float>)``."""
    if dim % 4 != 0:
        # fail at plan time: inside the kernel this would surface as
        # every row silently degrading to a null embedding
        raise ValueError(f"embedding dim must be a multiple of 4 (got {dim})")

    def kernel(series: pd.Series) -> pd.Series:
        from yadf_spark.fixtures.codec import decode_image

        out = []
        for payload in series:
            try:
                px = decode_image(bytes(payload))
                out.append(embed_pixels(px, dim).tolist())
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    emb = F.pandas_udf(kernel, "array<float>")
    return df.select(F.col(id_col).alias(id_col), emb(F.col(bytes_col)).alias("embedding"))


# ---------------------------------------------------------------------------
# video: fake container + frame sampling (decode stub, real plumbing)
# ---------------------------------------------------------------------------

MAGIC_VID = b"YDFV"
_VID_HEADER = struct.Struct("<4sH")  # magic, n_frames


def encode_fake_video(frames: list[np.ndarray]) -> bytes:
    """Deterministic fake video container: header + length-prefixed
    losslessly-encoded frames. Exists so the frame-sampling plumbing is
    testable without ffmpeg."""
    parts = [_VID_HEADER.pack(MAGIC_VID, len(frames))]
    for fr in frames:
        enc = codec.encode_png(fr)
        parts.append(struct.pack("<I", len(enc)))
        parts.append(enc)
    return b"".join(parts)


def _decode_video_frames(payload: bytes) -> list[bytes]:
    """Return the encoded frames of a video payload. REAL decoders
    (ffmpeg/PyAV) are not available in this container — only the fake
    container is supported; anything else raises ``NotImplementedError``
    (callers surface it as a null/quarantine row, never a job failure)."""
    if payload[:4] != MAGIC_VID:
        raise NotImplementedError(
            "real video decoding requires PyAV/ffmpeg; only the deterministic "
            "fake container (yadf_spark.operators.multimodal.encode_fake_video) "
            "is decodable in this environment"
        )
    _, n = _VID_HEADER.unpack_from(payload)
    off = _VID_HEADER.size
    frames = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        frames.append(payload[off : off + ln])
        off += ln
    return frames


FRAME_SCHEMA = "video_id string, frame_idx int, frame_bytes binary, n_frames int"


def frame_sample(
    df: DataFrame,
    every_n: int = 1,
    max_frames: int | None = None,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Explode videos into sampled frames: one output row per kept frame
    (``mapInPandas`` — a row-expanding map, so the operator composes with
    the image pipeline downstream: each frame is an image payload)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    frames = _decode_video_frames(bytes(payload))
                except Exception:
                    # NotImplementedError (real codec absent), TypeError
                    # (null payload), struct.error (truncated container):
                    # all degrade to a quarantine row, never a job failure
                    rows.append((vid, None, None, None))
                    continue
                kept = frames[::every_n]
                if max_frames is not None:
                    kept = kept[:max_frames]
                for idx, fb in enumerate(kept):
                    rows.append((vid, idx * every_n, fb, len(frames)))
            yield pd.DataFrame(rows, columns=["video_id", "frame_idx", "frame_bytes", "n_frames"])

    return df.select(F.col(id_col).alias(id_col), F.col(bytes_col).alias(bytes_col)).mapInPandas(
        kernel, FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# video near-dup (sampled-frame phash signatures)
# ---------------------------------------------------------------------------

def video_signatures(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    every_n: int = 1,
    max_frames: int = 8,
) -> DataFrame:
    """``(video_id, slot, phash)`` — one row per sampled decodable
    frame: :func:`frame_sample` composed with the per-frame perceptual
    hash (the image pipeline's own phash kernel). ``slot`` is the
    position in the sampled sequence (frame_idx / every_n), the
    alignment key for slot-wise comparison. Undecodable videos and
    frames quarantine to null and are dropped here — a video with zero
    decodable frames simply never pairs (G7 degrade posture).

    Scale shape: two narrow maps (container parse, frame phash) — a
    video's bytes never shuffle; everything downstream carries 8-byte
    hashes."""
    frames = frame_sample(
        df, every_n=every_n, max_frames=max_frames, id_col=id_col, bytes_col=bytes_col
    )

    def kernel(payloads: pd.Series) -> pd.Series:
        from yadf_spark.fixtures.codec import decode_image, perceptual_hash

        out = []
        for p in payloads:
            try:
                out.append(perceptual_hash(decode_image(bytes(p))))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    phash_udf = F.pandas_udf(kernel, "long")
    return (
        frames.where(F.col("frame_bytes").isNotNull())
        .select(
            "video_id",
            (F.col("frame_idx") / every_n).cast("int").alias("slot"),
            phash_udf(F.col("frame_bytes")).alias("phash"),
        )
        .where(F.col("phash").isNotNull())
    )


def _video_buckets(
    sig: DataFrame, bands: int, band_bits: int
) -> DataFrame:
    """(id, band_idx, band_hash) from a signature frame — hash_bands'
    bit-slice convention (minhash.hash_bands) with the frame slot folded
    into band_idx so only same-slot bands collide; inline because the
    slot must survive the explode."""
    mask = (1 << band_bits) - 1
    return sig.select(
        F.col("video_id").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"),
        "slot",
        F.col("phash").alias("_h"),
    ).select(
        "id",
        (F.col("slot") * bands + F.col("b")).alias("band_idx"),
        F.expr(f"shiftrightunsigned(_h, b * {band_bits})")
        .bitwiseAND(F.lit(mask))
        .alias("band_hash"),
    )


def video_band_table(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    every_n: int = 1,
    max_frames: int = 8,
    bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Payloads → slot-folded phash band keys: the video ``band_fn``
    for the incremental streaming index (streaming/dedup.py) — each
    micro-batch's videos band into the same persistent ``(id, band_idx,
    band_hash)`` index the image pipeline and audio clips use, so a
    re-encoded video arriving days later is caught against history
    without re-banding it."""
    return _video_buckets(
        video_signatures(df, id_col, bytes_col, every_n, max_frames), bands, band_bits
    )


video_band_table.band_fn_tag = "video-phash-slot-v1"


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str = "video_id",
    bytes_col: str = "bytes",
    every_n: int = 1,
    max_frames: int = 8,
    bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    min_slot_agree: float = 0.7,
    salt_bucket_above: int = 256,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-duplicate videos by sampled-frame perceptual hashes:
    ``(id_a, id_b, n_slots, n_agree)`` where ``n_slots`` counts the
    frame slots both videos populate and ``n_agree`` those whose
    phashes sit within ``max_hamming`` bits; a pair survives when
    ``n_agree >= min_slot_agree * n_slots``. Catches re-encodes and
    head-aligned trims (slot alignment is positional — a mid-stream
    trim shifts every later slot; sample sparser or lower the agree
    bar for those).

    Candidates come from the SAME Hamming-band idiom as the image
    phash prefilter, with the slot folded into the band index
    (``band_idx = slot * bands + b``) so only same-slot bands collide —
    then through the one shared salted/capped bucket expansion
    (minhash.candidate_pairs_from_buckets: one shuffle, skew-salted,
    never all-pairs). Verification is pure JVM bit arithmetic
    (xor + bit_count) over the signature join — no decode, no Python
    below the signature map. The signature frame is eagerly
    localCheckpoint-ed: the band table and both verify sides consume
    it, and the container-parse + phash UDFs must run exactly once."""
    from yadf_spark.operators.minhash import candidate_pairs_from_buckets

    sig = video_signatures(df, id_col, bytes_col, every_n, max_frames).localCheckpoint(
        eager=True
    )
    buckets = _video_buckets(sig, bands, band_bits)
    cand = candidate_pairs_from_buckets(buckets, salt_bucket_above, max_bucket)
    a = sig.select(
        F.col("video_id").alias("id_a"), "slot", F.col("phash").alias("_ph_a")
    )
    b = sig.select(
        F.col("video_id").alias("id_b"), "slot", F.col("phash").alias("_ph_b")
    )
    per_slot = cand.join(a, "id_a").join(b, ["id_b", "slot"])
    agree = (
        F.bit_count(F.col("_ph_a").bitwiseXOR(F.col("_ph_b"))) <= max_hamming
    ).cast("long")
    verdict = per_slot.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_slots"), F.sum(agree).alias("n_agree")
    )
    return verdict.where(
        F.col("n_agree") >= F.lit(min_slot_agree) * F.col("n_slots")
    )


# ---------------------------------------------------------------------------
# flip/rotation-invariant phash (mirrored-repost dedup)
# ---------------------------------------------------------------------------

def dihedral_phash_orbit(phash_arr: np.ndarray) -> np.ndarray:
    """The 8 phash values an image's full dihedral-group (D4) transforms
    — identity, mirror, vertical flip, 180-rotation, transpose, 90- and
    270-rotation, anti-transpose — would produce, computed as pure BIT
    permutations of the stored 64-bit phash, no pixel decode.

    The block-mean phash grid of ``fliplr(img)`` IS the column-reversed
    grid of ``img``, and the grid of ``rot90(img)`` IS a transposed+
    reversed grid (mean pooling commutes with every D4 element because
    the 8x8 cell boundaries map onto each other, and the median
    threshold is permutation-invariant), so each transform lifts to a
    bit shuffle — exact when w and h are multiples of the 8x8 grid, a
    recall heuristic (verification still gates) otherwise, since the
    crop-to-multiple-of-8 then trims opposite edges. The 8 transforms
    form a group, so canonicalizing by orbit-min is idempotent across
    any chain of flips/rotations of a repost.

    Vectorized: (n,) int64 -> (n, 8) uint64, a few numpy reshapes."""
    n = len(phash_arr)
    u = phash_arr.astype(np.int64).view(np.uint64)
    # little-endian uint64 -> MSB-first bit matrix = the flattened 8x8
    # grid in perceptual_hash's row-major fill order
    grid = (
        np.unpackbits(u.view(np.uint8).reshape(n, 8)[:, ::-1], axis=1)
        .reshape(n, 8, 8)
    )
    tgrid = grid.transpose(0, 2, 1)    # transpose: the rot90 family's base
    variants = (
        grid,
        grid[:, :, ::-1],          # fliplr: columns reverse
        grid[:, ::-1, :],          # flipud: rows reverse
        grid[:, ::-1, ::-1],       # rot180: both
        tgrid,                     # transpose (main diagonal)
        tgrid[:, ::-1, :],         # rot90
        tgrid[:, :, ::-1],         # rot270
        tgrid[:, ::-1, ::-1],      # anti-transpose
    )
    out = np.empty((n, 8), dtype=np.uint64)
    for j, v in enumerate(variants):
        b8 = np.packbits(np.ascontiguousarray(v).reshape(n, 64), axis=1)
        val = np.zeros(n, dtype=np.uint64)
        for k in range(8):
            val |= b8[:, k].astype(np.uint64) << np.uint64(8 * (7 - k))
        out[:, j] = val
    return out


def canonical_phash_kernel(phash_arr: np.ndarray) -> np.ndarray:
    """Orbit minimum (unsigned) of ``dihedral_phash_orbit`` as signed
    int64 — identical for an image and any of its 8 D4 transforms, so
    one band pass over this value catches mirrored AND rotated reposts
    (90/180/270), including non-square images whose rotation swaps
    w and h."""
    return dihedral_phash_orbit(phash_arr).min(axis=1).view(np.int64)


def with_canonical_phash(
    df: DataFrame, phash_col: str = "phash", out_col: str = "canonical_phash"
) -> DataFrame:
    """Add the flip/rotation-invariant canonical phash — an Arrow-batched
    narrow map over the 8-byte hash column only (payload bytes untouched,
    zero shuffle); null phash (undecodable payload) stays null.

    Null rows are SPLIT OFF before the UDF, not masked inside it: Arrow
    hands a nullable long batch to pandas as float64, and a 64-bit hash
    round-tripped through a 53-bit mantissa silently changes value — one
    undecodable payload in a batch would corrupt every canonical hash
    sharing that batch. The null-free branch always arrives as exact
    int64; the null branch is a constant column. Both branches are
    narrow (the union is a plan-level concat, no shuffle)."""

    @F.pandas_udf("long")
    def kernel(s: pd.Series) -> pd.Series:
        # batch is null-free by construction -> exact int64 dtype
        return pd.Series(canonical_phash_kernel(s.to_numpy(dtype=np.int64)))

    non_null = df.filter(F.col(phash_col).isNotNull()).withColumn(
        out_col, kernel(F.col(phash_col))
    )
    nulls = df.filter(F.col(phash_col).isNull()).withColumn(
        out_col, F.lit(None).cast("long")
    )
    return non_null.unionByName(nulls)


def flip_invariant_bands(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Bucket-membership table ``(id, band_idx, band_hash)`` over the
    canonical dihedral phash — plugs into the shared salted candidate
    machinery (``minhash.candidate_pairs_from_buckets``) and the
    incremental streaming index (``band_fn``), exactly like the plain
    phash bands in ``pipeline.candidate_buckets`` but invariant to
    mirror/vertical-flip/180-rotation reposts. Band extraction is the
    shared ``minhash.hash_bands`` idiom so batch and streaming bucket
    tables can never drift apart."""
    from yadf_spark.operators.minhash import hash_bands

    src = with_canonical_phash(df, phash_col).filter(F.col("canonical_phash").isNotNull())
    return hash_bands(src, id_col, "canonical_phash", bands, band_bits)


#: streaming-index ownership tag (streaming/dedup.py _check_band_fn_tag):
#: bumped with the round-3 Klein->D4 orbit widening — an index banded on
#: 4-orbit canonical values must not be consulted by 8-orbit code
flip_invariant_bands.band_fn_tag = "flip-invariant-phash-d4-v1"


# ---------------------------------------------------------------------------
# crop-resistant tile phash (quadrant-crop repost dedup)
# ---------------------------------------------------------------------------

TILE_GRID = 2



def tile_phash_kernel(px: np.ndarray, grid: int = TILE_GRID) -> list[int]:
    """Pure: the ``grid x grid`` quadrant perceptual hashes of an
    (h, w, 3) array, row-major. Block-mean phash of a quadrant IS the
    phash a standalone crop of that quadrant would get (same pixels,
    same pooling), which is what makes tile hashes a crop-detection
    index. Module-level so the contract harness can replay it
    single-process as stored truth. Raises for tiles smaller than the
    8x8 phash grid (the caller quarantines)."""
    h, w, _ = px.shape
    th, tw = h // grid, w // grid
    if th < 8 or tw < 8:
        raise ValueError(f"tiles {th}x{tw} below the 8x8 phash grid")
    return [
        codec.perceptual_hash(px[r * th : (r + 1) * th, c * tw : (c + 1) * tw])
        for r in range(grid)
        for c in range(grid)
    ]


def with_tile_phashes(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    grid: int = TILE_GRID,
) -> DataFrame:
    """Decode each payload and emit its quadrant tile phashes as one
    ``array<long>`` — a ``mapInPandas`` narrow map (payload bytes never
    shuffle; downstream joins carry 8-byte hashes). Undecodable or
    too-small images emit ``tiles = null`` (quarantine convention).
    The array output dodges the Arrow nullable-long batch problem: a
    null row nulls the whole array, never a value inside an int64
    column."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from yadf_spark.fixtures.codec import decode_image

        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    rows.append((rid, tile_phash_kernel(decode_image(bytes(payload)), grid)))
                except Exception:
                    rows.append((rid, None))
            yield pd.DataFrame(rows, columns=[id_col, "tiles"])

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col).alias(id_col), F.col(bytes_col).alias(bytes_col)).mapInPandas(
        kernel, f"{id_col} {id_type}, tiles array<long>"
    )


def crop_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    n_blocks: int = 8,
    block_bits: int = 8,
    key_blocks: int = 2,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
    grid: int = TILE_GRID,
) -> DataFrame:
    """Detect "B is a quadrant crop of A": every image's TILE phashes
    join every other image's stored WHOLE-image phash through the shared
    multi-block Hamming band keys (``block_band_keys`` — the same
    recall-complete-for-radius-6 table the audio path uses), then exact
    Hamming verifies JVM-side. Never an all-pairs compare: both band
    tables are ~20 B/row (id, band_idx, 16-bit key) so the only shuffle
    is narrow, the phash side needs NO decode (the column is already in
    the table), and hot band values (e.g. flat images hashing to 0) are
    AQE skew-split at runtime.

    Output ``(id_big, id_crop, tile_idx, hamming)``: ``id_crop``'s whole
    image matched tile ``tile_idx`` of ``id_big`` within ``max_hamming``
    bits."""
    from yadf_spark.functions.hashes import block_band_keys, hamming64

    assert max_hamming <= n_blocks - key_blocks, (
        "banding is only recall-complete for radius <= n_blocks - key_blocks"
    )
    tiles = with_tile_phashes(df, id_col, bytes_col, grid).filter(F.col("tiles").isNotNull())
    texp = tiles.select(
        F.col(id_col).alias("id_big"), F.posexplode("tiles")
    ).select("id_big", F.col("pos").alias("tile_idx"), F.col("col").alias("_th"))
    # single linear consumer (_th rides through the band join into the
    # verify), so no checkpoint: the decode runs once either way
    tband = texp.select(
        "id_big",
        "tile_idx",
        "_th",
        F.posexplode(block_band_keys(F.col("_th"), n_blocks, block_bits, key_blocks)),
    ).select("id_big", "tile_idx", "_th", F.col("pos").alias("band_idx"), F.col("col").alias("band_hash"))
    wband = df.select(
        F.col(id_col).alias("id_crop"),
        F.col(phash_col).alias("_pw"),
        F.posexplode(block_band_keys(F.col(phash_col), n_blocks, block_bits, key_blocks)),
    ).select("id_crop", "_pw", F.col("pos").alias("band_idx"), F.col("col").alias("band_hash"))
    cand = (
        tband.join(wband, ["band_idx", "band_hash"])
        .where(F.col("id_big") != F.col("id_crop"))
        .select("id_big", "id_crop", "tile_idx", "_th", "_pw")
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("_th"), F.col("_pw")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_big", "id_crop", "tile_idx", "hamming")
    )


# ---------------------------------------------------------------------------
# classical perceptual-hash ensemble (ahash / dhash / phash voting)
# ---------------------------------------------------------------------------

def _pack_bits(bits: "np.ndarray") -> int:
    """64 booleans (MSB first) -> signed int64, matching the stored
    phash's packing convention (fixtures/codec.py perceptual_hash)."""
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


def ahash_kernel(px: np.ndarray) -> int:
    """Average hash: grayscale -> 8x8 block means -> threshold at the
    GLOBAL mean (the phash in this repo thresholds at the median — a
    deliberately different decision boundary, so the two hashes fail
    independently and an ensemble vote carries signal)."""
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    gh, gw = (h // 8) * 8, (w // 8) * 8
    if gh == 0 or gw == 0:
        raise ValueError(f"image {h}x{w} below the 8x8 hash grid")
    g = gray[:gh, :gw].reshape(8, gh // 8, 8, gw // 8).mean(axis=(1, 3))
    return _pack_bits((g > g.mean()).flatten())


def dhash_kernel(px: np.ndarray) -> int:
    """Difference hash: grayscale -> 8x9 block means -> each bit is the
    horizontal gradient sign between adjacent columns. Gradient signs
    are invariant to global brightness/contrast shifts that move every
    mean-threshold bit at once — the third independent failure mode."""
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    gh, gw = (h // 8) * 8, (w // 9) * 9
    if gh == 0 or gw == 0:
        raise ValueError(f"image {h}x{w} below the 8x9 dhash grid")
    g = gray[:gh, :gw].reshape(8, gh // 8, 9, gw // 9).mean(axis=(1, 3))
    return _pack_bits((g[:, 1:] > g[:, :-1]).flatten())


def with_hash_ensemble(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Decode each payload ONCE and emit ``hashes = [ahash, dhash]`` as
    one ``array<long>`` — a ``mapInPandas`` narrow map (payloads never
    shuffle; the array output dodges the Arrow nullable-long batch
    problem the same way ``with_tile_phashes`` does). Undecodable or
    too-small images emit ``hashes = null`` (quarantine convention)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from yadf_spark.fixtures.codec import decode_image

        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    px = decode_image(bytes(payload))
                    rows.append((rid, [ahash_kernel(px), dhash_kernel(px)]))
                except Exception:
                    rows.append((rid, None))
            yield pd.DataFrame(rows, columns=[id_col, "hashes"])

    return df.select(id_col, bytes_col).mapInPandas(
        kernel, schema=f"{id_col} string, hashes array<long>"
    )


def ensemble_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    min_votes: int = 2,
    bands: int = 4,
    band_bits: int = 16,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    phash_col: str = "phash",
) -> DataFrame:
    """Near-dup pairs by MAJORITY VOTE of three independent perceptual
    hashes: a pair qualifies when >= ``min_votes`` of {phash, ahash,
    dhash} agree within ``max_hamming`` bits. One hash's blind spot
    (phash: median-threshold flips on near-median blocks; ahash: global
    brightness; dhash: column-gradient ties) rarely aligns with
    another's, so the vote buys precision without the decode-verify
    pass — and recall stays COMPLETE for the vote predicate: a
    qualifying pair agrees on some hash within ``max_hamming`` <
    ``bands``, so it shares at least one band bucket of that hash
    (pigeonhole), and all three hashes' band tables feed one shared
    salted candidate join.

    Scale shape: the decode is one narrow ``mapInPandas``; its 16-byte
    output (plus the stored phash — never re-decoded) is localCheckpoint
    -ed so the band explode and the verify join both read it without a
    second decode. Memberships are ~20 B/row x 3 hashes x ``bands``;
    buckets share ``candidate_pairs_from_buckets``'s salting and cap.
    Output ``(id_a, id_b, n_votes)``."""
    from yadf_spark.functions.hashes import hamming64
    from yadf_spark.operators.minhash import candidate_pairs_from_buckets, hash_bands

    assert max_hamming < bands, "banding is only recall-complete for radius < bands"
    hs = with_hash_ensemble(df, id_col, bytes_col).filter(F.col("hashes").isNotNull())
    trio = (
        df.select(id_col, F.col(phash_col).alias("_h0"))
        .join(
            hs.select(
                id_col,
                F.col("hashes")[0].alias("_h1"),
                F.col("hashes")[1].alias("_h2"),
            ),
            id_col,
        )
        .localCheckpoint(eager=False)  # decode once: bands + verify both read it
    )
    memb = None
    for kind in range(3):
        b = hash_bands(trio, id_col, f"_h{kind}", bands, band_bits).withColumn(
            "band_idx", (F.col("band_idx") + F.lit(kind * bands)).cast("int")
        )
        memb = b if memb is None else memb.unionByName(b)
    cand = candidate_pairs_from_buckets(memb)
    a = trio.select(
        F.col(id_col).alias("id_a"),
        F.col("_h0").alias("_a0"), F.col("_h1").alias("_a1"), F.col("_h2").alias("_a2"),
    )
    b = trio.select(
        F.col(id_col).alias("id_b"),
        F.col("_h0").alias("_b0"), F.col("_h1").alias("_b1"), F.col("_h2").alias("_b2"),
    )
    scored = cand.join(a, "id_a").join(b, "id_b")
    vote = sum(
        F.when(hamming64(F.col(f"_a{k}"), F.col(f"_b{k}")) <= max_hamming, 1).otherwise(0)
        for k in range(3)
    )
    return (
        scored.withColumn("n_votes", vote.cast("int"))
        .filter(F.col("n_votes") >= min_votes)
        .select("id_a", "id_b", "n_votes")
    )


# ---------------------------------------------------------------------------
# image-caption alignment (CLIP-score-style filtering, stub encoders)
# ---------------------------------------------------------------------------

def caption_embedding_kernel(caption: str, dim: int = 64) -> np.ndarray:
    """Pure hashed bag-of-words text embedding (feature hashing with
    ±1 signs, Weinberger et al. ICML'09): each lower-cased whitespace
    token scatters sign(md5) into bucket md5 % dim; L2-normalized
    float32. The deterministic stand-in occupying the text-encoder
    seam — module-level so the contract harness replays it
    single-process as stored truth."""
    import hashlib

    v = np.zeros(dim, dtype=np.float64)
    for tok in (caption or "").lower().split():
        h = hashlib.md5(tok.encode()).hexdigest()
        v[int(h[:8], 16) % dim] += 1.0 if int(h[8], 16) % 2 == 0 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def alignment_kernel(px: np.ndarray, caption: str, dim: int = 64) -> float:
    """Pure: cosine between the image and caption stub embeddings (both
    already unit-norm float32; the dot runs in float64 so distributed
    and single-process replays agree bitwise). Zero-signal captions
    (empty/null) score 0.0."""
    a = embed_pixels(px, dim).astype(np.float64)
    b = caption_embedding_kernel(caption, dim).astype(np.float64)
    return float(a @ b)


def caption_alignment(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    dim: int = 64,
) -> DataFrame:
    """Image-caption alignment score — the LAION/DataComp "CLIP score"
    filtering stage (keep pairs whose encoders agree; compose with
    ``curation.quantile_threshold_filter`` or a fixed threshold for the
    gate). Both encoders here are deterministic stubs (intensity
    histogram / hashed bag-of-words); a real deployment swaps the two
    pure kernels and keeps this plumbing — a ``mapInPandas`` narrow map
    where payload bytes never shuffle and undecodable rows quarantine
    to ``ok=false``.

    Output ``(id_col, align double, ok boolean)``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from yadf_spark.fixtures.codec import decode_image

        for pdf in batches:
            rows = []
            for rid, payload, cap in zip(pdf[id_col], pdf[bytes_col], pdf[caption_col]):
                try:
                    px = decode_image(bytes(payload))
                    rows.append((rid, alignment_kernel(px, cap, dim), True))
                except Exception:
                    rows.append((rid, None, False))
            yield pd.DataFrame(rows, columns=[id_col, "align", "ok"])

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(
        F.col(id_col).alias(id_col),
        F.col(bytes_col).alias(bytes_col),
        F.col(caption_col).alias(caption_col),
    ).mapInPandas(kernel, f"{id_col} {id_type}, align double, ok boolean")


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (training-shard prep)
# ---------------------------------------------------------------------------

# The SDXL-style ~1-megapixel bucket ladder (public: NovelAI aspect-bucket
# scheme, Podell et al. 2023 appendix I) — landscape and portrait pairs
# around square, all multiples of 64. Assignment depends only on the
# bucket's RATIO, so the same table serves any input resolution.
SDXL_BUCKETS: tuple[tuple[int, int], ...] = (
    (1024, 1024),
    (1152, 896),
    (896, 1152),
    (1216, 832),
    (832, 1216),
    (1344, 768),
    (768, 1344),
    (1536, 640),
    (640, 1536),
)


def aspect_bucket_assignments(
    df: DataFrame,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    buckets: tuple[tuple[int, int], ...] = SDXL_BUCKETS,
) -> DataFrame:
    """Assign every image to the nearest aspect-ratio bucket — the
    batching prep step resolution-diverse image training uses so a
    batch shares one crop shape (aspect bucketing; no reference analog,
    north-rule training-pipeline addition).

    Nearest means min |w/h - bw_i/bh_i|, computed in EXACT integer
    arithmetic so any engine replays it bit-for-bit: the distances
    share denominator h * lcm(bh) once each bucket's |w*bh_i - h*bw_i|
    is scaled by lcm(bh)/bh_i, so the argmin key is

        key_i = abs(w*bh_i - h*bw_i) * (lcm(bh)/bh_i)

    (h is common to all buckets and drops out). Ties break to the
    lowest bucket index via lexicographic struct comparison. Magnitude:
    w,h <= 2^31, bh <= 2^11, lcm/bh < 2^18 -> key < 2^61, inside long.

    The whole assignment is one whole-stage-codegen projection —
    ``array_min`` over a literal struct array; zero shuffle, zero
    Python, no join against a bucket table (the table is a plan
    literal, the idiom `curation.denylist_filter` uses for small
    InSet-able dimensions).

    Output: ``(id_col, w, h, bucket_idx int, bucket_w int, bucket_h
    int)``.
    """
    import math

    lcm = math.lcm(*[bh for _, bh in buckets])
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    entries = [
        F.struct(
            (F.abs(w * F.lit(bh) - h * F.lit(bw)) * F.lit(lcm // bh)).alias("k"),
            F.lit(i).alias("i"),
            F.lit(bw).alias("bw"),
            F.lit(bh).alias("bh"),
        )
        for i, (bw, bh) in enumerate(buckets)
    ]
    best = F.array_min(F.array(*entries))
    return df.select(
        F.col(id_col).alias(id_col),
        w.alias("w"),
        h.alias("h"),
        best["i"].alias("bucket_idx"),
        best["bw"].alias("bucket_w"),
        best["bh"].alias("bucket_h"),
    )
