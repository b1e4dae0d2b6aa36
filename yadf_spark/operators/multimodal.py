"""Image column operators the dedup system runs on opaque ``binary``
payloads and on their 64-bit phash column.

* ``sniffed_format_col`` — the container format from magic bytes as a
  pure JVM expression; ``--drop-format-mismatch`` filters on it.
* ``with_canonical_phash`` — the flip/rotation-invariant phash that the
  ``flip_invariant`` paths of ``pipeline.candidate_buckets`` and
  ``verify.verify_pairs`` band and group on.

Both are narrow: payload bytes never cross a shuffle, and neither
decodes an image. The canonical phash is an Arrow-batched numpy bit
permutation over the 8-byte hash column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    10^12 rows this is the difference between a scan-speed filter and a
    decode-speed one."""
    hx = F.hex(F.substring(bytes_col, 1, 8))
    expr: Column | None = None
    for magic, label in MAGIC_HEX:
        cond = F.substring(hx, 1, len(magic)) == F.lit(magic)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit("unknown"))


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
