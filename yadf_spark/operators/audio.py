"""Audio near-duplicate pairs over opaque ``binary`` payloads — the
``audio-near-dup`` CLI mode.

* Payload bytes NEVER cross a shuffle — the fingerprint is a narrow map
  (``mapInPandas`` over Arrow batches) projecting each clip to one
  64-bit ``afp`` column; the band join and the verify carry only that.
* Python is batch-vectorized — per-row work is one zlib/numpy call per
  clip (the decode), matching the reference's per-file hash loop shape
  (src/fs/hash.rs:60-69).
* Real audio libraries (soundfile/librosa/ffmpeg) are absent in this
  container: ``decode_audio`` tries soundfile first and falls back to
  the deterministic fake container (``encode_fake_audio``), keyed by
  magic bytes, so real and fake payloads can coexist in one table.
  Undecodable payloads get a null fingerprint and drop out of the pairs
  rather than failing the job (the reference's error-fallback posture,
  src/fs.rs:242-262).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC_AUD = b"YDFA"
_AUD_HEADER = struct.Struct("<4sIHI")  # magic, sample_rate, n_channels, n_samples


def encode_fake_audio(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Deterministic fake audio container: header + zlib-compressed
    little-endian int16 PCM. ``samples`` is ``(n,)`` mono or ``(n, ch)``.
    Exists so the audio plumbing is testable without soundfile/ffmpeg."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    pcm = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    return _AUD_HEADER.pack(MAGIC_AUD, sample_rate, ch, n) + zlib.compress(pcm, 6)


def decode_fake_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode the fake container to ``(sample_rate, (n, ch) int16)``."""
    magic, rate, ch, n = _AUD_HEADER.unpack_from(payload)
    if magic != MAGIC_AUD:
        raise ValueError("not a fake-audio payload")
    raw = zlib.decompressobj().decompress(bytes(payload[_AUD_HEADER.size :]))
    return rate, np.frombuffer(raw, dtype="<i2").reshape(n, ch)


def decode_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode to ``(sample_rate, (n_samples, n_channels) int16)``.
    soundfile for real formats when available; the deterministic fake
    container otherwise (mirrors ``fixtures.codec.decode_image``)."""
    if payload[:4] == MAGIC_AUD:
        return decode_fake_audio(payload)
    try:  # pragma: no cover - soundfile absent in this container
        import io

        import soundfile as sf

        data, rate = sf.read(io.BytesIO(payload), dtype="int16", always_2d=True)
        return rate, data
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "real audio decoding requires soundfile/ffmpeg; fixture payloads "
            "use the deterministic fake container "
            "(yadf_spark.operators.audio.encode_fake_audio)"
        ) from exc


def audio_fingerprint_bits(samples: np.ndarray, n_windows: int = 64) -> int:
    """64-bit energy-profile fingerprint: channel-mean mono → ``n_windows``
    equal time windows → per-window RMS energy → threshold at the median
    (the audio analog of ``codec.perceptual_hash``'s block-mean bits).
    Robust to small noise/quantization, so near-identical clips land
    within a few Hamming bits. Signed int64 (Spark LongType compatible).
    Module-level and pure so the contract harness can replay it
    single-process as stored ground truth."""
    mono = samples.astype(np.float64).mean(axis=1)
    energy = np.array(
        [np.sqrt(np.mean(c**2)) if c.size else 0.0 for c in np.array_split(mono, n_windows)]
    )
    bits = energy > np.median(energy)
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


def audio_fingerprints(df: DataFrame, id_col: str = "audio_id", bytes_col: str = "bytes") -> DataFrame:
    """Decode each clip and emit its energy fingerprint:
    ``(audio_id, afp long)``; undecodable payloads → null afp."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    _, samples = decode_audio(bytes(payload))
                    rows.append((rid, audio_fingerprint_bits(samples)))
                except Exception:
                    rows.append((rid, None))
            yield pd.DataFrame(rows, columns=["audio_id", "afp"])

    return df.select(F.col(id_col).alias(id_col), F.col(bytes_col).alias(bytes_col)).mapInPandas(
        kernel, "audio_id string, afp long"
    )


def fingerprint_band_table(
    fps: DataFrame, n_blocks: int = 8, block_bits: int = 8, key_blocks: int = 2
) -> DataFrame:
    """``(audio_id, afp)`` → the bucket-membership table ``(id, band_idx,
    band_hash)`` every candidate source shares (operators/pipeline.py
    candidate_buckets shape), using multi-block keys (the Manku/Jain/
    Das Sarma WWW'07 SimHash-dedup table scheme): the 64-bit fingerprint
    splits into ``n_blocks`` disjoint blocks and every combination of
    ``key_blocks`` blocks concatenates into one key.

    Pigeonhole: ``d`` differing bits touch at most ``d`` blocks, so any
    pair within Hamming distance ``n_blocks - key_blocks`` leaves some
    ``key_blocks``-subset of blocks untouched and shares that key —
    recall-complete for radius 6 at the defaults. Versus single-block
    bands wide enough for the same radius (8 bands of 8 bits), the keys
    carry ``key_blocks * block_bits`` = 16 bits, so bucket cardinality
    is 65k instead of 256 — at 10^12 rows that is the difference
    between bounded buckets and an all-pairs blowup inside every
    256th-of-the-corpus bucket. Cost: C(8,2) = 28 table rows per id
    instead of 8; the rows are ~20 B each and the explode is map-side."""
    from yadf_spark.functions.hashes import block_band_keys

    keys = block_band_keys(F.col("afp"), n_blocks, block_bits, key_blocks)
    return fps.select(
        F.col("audio_id").alias("id"),
        F.posexplode(keys),
    ).select("id", F.col("pos").alias("band_idx"), F.col("col").alias("band_hash"))


def audio_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    n_blocks: int = 8,
    block_bits: int = 8,
    key_blocks: int = 2,
    id_col: str = "audio_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Audio near-duplicate candidate pairs: fingerprint → multi-block
    Hamming band keys → the SAME salted/capped bucket expansion every
    other candidate source uses (``minhash.candidate_pairs_from_buckets``
    — no all-pairs path), verified by exact Hamming distance JVM-side
    (``bit_count`` of the xor; no Python in the verify). Output
    ``(id_a, id_b, hamming int)`` with ``id_a < id_b``. Mirrors the
    image phash-band path (operators/pipeline.py candidate_buckets),
    extending the near-dup machinery to the audio modality."""
    from yadf_spark.functions.hashes import hamming64
    from yadf_spark.operators import minhash

    # pigeonhole: d differing bits touch at most d blocks, so a shared
    # key (key_blocks untouched blocks) is guaranteed only for
    # d <= n_blocks - key_blocks — reject configs that would silently
    # miss pairs inside the requested radius
    assert max_hamming <= n_blocks - key_blocks, (
        "banding is only recall-complete for radius <= n_blocks - key_blocks"
    )
    fps = audio_fingerprints(df, id_col, bytes_col).filter(F.col("afp").isNotNull())
    fps = fps.localCheckpoint(eager=False)  # fingerprint once: bands + verify both read it
    cand = minhash.candidate_pairs_from_buckets(
        fingerprint_band_table(fps, n_blocks, block_bits, key_blocks)
    )
    a = fps.select(F.col("audio_id").alias("id_a"), F.col("afp").alias("_fa"))
    b = fps.select(F.col("audio_id").alias("id_b"), F.col("afp").alias("_fb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming64(F.col("_fa"), F.col("_fb")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
