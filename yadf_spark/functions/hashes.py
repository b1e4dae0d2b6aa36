"""Hash-key column builders for the staged dedup ladder.

The reference dedupes with pluggable 64-256 bit content hashes behind a
two-method trait (reference: src/hasher.rs:1-80) and mixes the file size
into the partial hash so equal prefixes of different-length files never
collide (reference: src/fs/hash.rs:27-42, test :76-82). Here every hash is
a JVM-side column expression (whole-stage codegen, no Python):

* ``xxhash64`` — the fast default for the image/binary path; Spark's
  built-in accepts multiple args and mixes them, which reproduces the
  reference's "size || prefix-bytes" mixing semantically.
* ``md5`` / ``sha256`` — portable mode: DuckDB computes identical hex
  digests, so oracle queries can replicate the ladder's keys exactly.
* ``blake2b128`` / ``blake2b256`` — the WIDE fast family (the
  reference's default posture is a wide non-crypto hash, highway-256 at
  src/hasher.rs:23-34, with blake3 as the crypto option :72-80): 64-bit
  keys are birthday-risky at 10^12 rows, 128+ bits are not. Stdlib
  ``hashlib.blake2b`` through an Arrow-batched pandas UDF (no external
  wheel needed); size is mixed as a little-endian u64 prefix, the
  reference's ``write_u64(len) || write(bytes)`` shape
  (src/fs/hash.rs:27-42).

All group keys are namespaced strings (``sz:``, ``p:``, ``s:``, ``f:``)
so keys from different ladder stages can never collide — strictly
stronger than the reference's shared ``H::Hash`` key space.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

BLAKE2B_SIZES = {"blake2b128": 16, "blake2b256": 32}
# six algos across three width/speed classes, matching the reference's
# pluggable-trait breadth (src/hasher.rs:1-80): fast-64 (xxhash64),
# wide-fast (blake2b128/256), portable/crypto (md5/sha256/sha512)
ALGOS = ("xxhash64", "md5", "sha256", "sha512", *BLAKE2B_SIZES)


def _to_bytes(v) -> bytes:
    return v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")


def _blake2b_digest(algo: str, *cols: Column) -> Column:
    """blake2b hex digest column (pandas UDF, Arrow batches). One arg
    hashes the raw payload bytes; two args mix ``(size, payload)`` as
    LE-u64 || bytes like the reference's partial hash."""
    digest_size = BLAKE2B_SIZES[algo]

    if len(cols) == 1:

        @F.pandas_udf("string")
        def h1(data: pd.Series) -> pd.Series:
            import hashlib

            return data.map(
                lambda v: None
                if v is None
                else hashlib.blake2b(_to_bytes(v), digest_size=digest_size).hexdigest()
            )

        return h1(cols[0])

    if len(cols) != 2:
        raise ValueError("blake2b digest supports 1 (payload) or 2 (size, payload) columns")

    @F.pandas_udf("string")
    def h2(size: pd.Series, data: pd.Series) -> pd.Series:
        import hashlib

        return pd.Series(
            [
                None
                if v is None or s is None
                else hashlib.blake2b(
                    int(s).to_bytes(8, "little") + _to_bytes(v), digest_size=digest_size
                ).hexdigest()
                for s, v in zip(size, data)
            ],
            dtype=object,
        )

    return h2(cols[0], cols[1])


def _digest(algo: str, *cols: Column) -> Column:
    """Hash one or more columns into a single string digest column."""
    if algo == "xxhash64":
        return F.xxhash64(*cols).cast("string")
    if algo in BLAKE2B_SIZES:
        return _blake2b_digest(algo, *cols)
    # md5/sha2 take a single argument; concat with a separator that the
    # DuckDB oracle reproduces verbatim (see __spark_entry__.oracle_sql).
    arg = cols[0] if len(cols) == 1 else F.concat_ws(":", *[c.cast("string") for c in cols])
    if algo == "md5":
        return F.md5(arg.cast("string"))
    if algo == "sha256":
        return F.sha2(arg.cast("string"), 256)
    if algo == "sha512":
        return F.sha2(arg.cast("string"), 512)
    raise ValueError(f"unknown hash algo {algo!r}; expected one of {ALGOS}")


def size_key(size: Column) -> Column:
    """Synthetic key for size-singleton rows (reference: src/fs/hash.rs:18-25
    hashes only the size so uniques stay distinct in the output bag)."""
    return F.concat(F.lit("sz:"), size.cast("string"))


def prefix_hash(payload: Column, size: Column, prefix_len: int, algo: str) -> Column:
    """Partial hash over ``size || payload[:prefix_len]`` (reference:
    src/fs/hash.rs:27-42, BLOCK=4 KiB at :12)."""
    prefix = F.substring(payload, 1, prefix_len)
    return F.concat(F.lit("p:"), _digest(algo, size, prefix))


def suffix_hash(payload: Column, suffix_len: int, algo: str) -> Column:
    """Tail hash over the last ``suffix_len`` bytes (reference:
    src/fs/hash.rs:44-58 — a differing tail proves difference)."""
    tail = F.substring(payload, -suffix_len, suffix_len)
    return _digest(algo, tail)


def full_hash(payload: Column, algo: str) -> Column:
    """Full-content hash — the final verdict key (reference:
    src/fs/hash.rs:60-69; equality is trusted, no byte-compare)."""
    if algo == "xxhash64":
        # For the trusted final key prefer a cryptographic digest even in
        # fast mode: xxhash64 collisions at 10^12 rows are likely
        # (birthday bound), sha256 collisions are not. The blake2b
        # family needs no upgrade — 128 bits is already birthday-safe.
        return F.concat(F.lit("f:"), F.sha2(payload, 256))
    return F.concat(F.lit("f:"), _digest(algo, payload))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes — JVM-side bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def block_band_keys(
    fp: Column, n_blocks: int = 8, block_bits: int = 8, key_blocks: int = 2
) -> Column:
    """Multi-block Hamming band keys (Manku/Jain/Das Sarma WWW'07) as an
    ``array<long>``: the fingerprint splits into ``n_blocks`` disjoint
    blocks and every ``key_blocks``-combination concatenates into one
    key. Pigeonhole: ``d`` differing bits touch at most ``d`` blocks, so
    any pair within Hamming distance ``n_blocks - key_blocks`` shares at
    least one key — recall-complete for radius 6 at the defaults, with
    ``key_blocks * block_bits``-bit keys (65k bucket cardinality instead
    of the 256 a single-block scheme would give: at 10^12 rows that is
    bounded buckets vs an all-pairs blowup inside every 256th-of-the-
    corpus bucket). ``posexplode`` the result into the shared
    ``(band_idx, band_hash)`` bucket-table shape."""
    from itertools import combinations

    assert 1 <= key_blocks < n_blocks and n_blocks * block_bits <= 64
    mask = (1 << block_bits) - 1

    def block(i: int) -> Column:
        return F.shiftrightunsigned(fp, i * block_bits).bitwiseAND(F.lit(mask))

    keys = []
    for combo in combinations(range(n_blocks), key_blocks):
        k = block(combo[0])
        for b in combo[1:]:
            k = F.shiftleft(k, block_bits).bitwiseOR(block(b))
        keys.append(k)
    return F.array(*keys)
