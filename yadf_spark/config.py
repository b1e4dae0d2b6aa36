"""Configuration dataclasses for the dedup pipelines.

Scan filters and the replication-factor predicate mirror the reference's
CLI surface (reference: src/fs/filter.rs:47-65 for the per-entry filters,
src/bag.rs:32-37 + src/args.rs:79-104 for the Factor predicate)."""

from __future__ import annotations

import fnmatch
from dataclasses import dataclass, field


@dataclass(frozen=True)
class LadderConfig:
    """Knobs of the staged exact-dup ladder (reference constants:
    BLOCK = 4 KiB src/fs/hash.rs:12, SUFFIX_HASH_THRESHOLD = 64 KiB
    src/fs.rs:26)."""

    prefix_len: int = 4096
    suffix_len: int = 4096
    #: payloads >= this get the suffix-hash refinement stage
    suffix_threshold: int = 65536
    #: payloads < this skip the full hash — their prefix hash already
    #: covered the entire content + size (reference: src/fs.rs:244-262)
    full_hash_min_size: int = 4096
    #: hash algorithm: "xxhash64" (fast) | "md5"/"sha256"/"sha512"
    #: (oracle-portable/crypto) | "blake2b128"/"blake2b256" (wide+fast)
    algo: str = "xxhash64"
    #: if the candidate set needing a full hash is under this many rows,
    #: broadcast it for the semi-join against the source scan (avoids
    #: shuffling the payload column entirely)
    broadcast_candidates_below: int = 2_000_000
    #: materialize the narrow (id, size, p_hash, s_hash) frame once
    #: (eager localCheckpoint) before the stage group-bys fan out. The
    #: ladder's four output branches are a union whose subplans Catalyst
    #: does NOT de-duplicate (no ReusedExchange across the branches —
    #: measured), so without this each branch re-reads the payload and
    #: re-runs the prefix/suffix hashing: the hash pass — THE dominant
    #: cost at 100 TB — would execute up to 4x. Truncating costs one
    #: ~60 B/row materialization to executor-local storage (the same
    #: stage-boundary posture as plans.checkpoint.Checkpointer); set
    #: False to get a pure declarative plan (plan tests / explain).
    truncate_lineage: bool = True


@dataclass(frozen=True)
class ScanFilter:
    """Pushed-down row predicates (reference: src/fs/filter.rs:47-65 —
    evaluated inside the walk, before anything is collected; Catalyst
    pushes these into the parquet scan for us)."""

    min_size: int | None = None  # F2; --no-empty is min_size=1
    max_size: int | None = None  # F3
    regex: str | None = None  # F4 — matches the final path component
    glob: str | None = None  # F5

    def glob_as_regex(self) -> str | None:
        if self.glob is None:
            return None
        # fnmatch.translate targets re.match (start-anchored implicitly);
        # Spark's rlike is a SEARCH, so without an explicit \A the glob
        # 'a.txt' would also keep 'data.txt' (suffix substring match) —
        # anchor to reproduce fnmatch whole-name semantics
        return r"\A" + fnmatch.translate(self.glob)


@dataclass(frozen=True)
class Factor:
    """Replication-factor predicate over group sizes (reference:
    src/bag.rs:32-37 Under/Equal/Over; default Over(1) = duplicates,
    Equal(1) = uniques)."""

    op: str  # "under" | "equal" | "over"
    n: int

    @staticmethod
    def under(n: int) -> "Factor":
        return Factor("under", n)

    @staticmethod
    def equal(n: int) -> "Factor":
        return Factor("equal", n)

    @staticmethod
    def over(n: int) -> "Factor":
        return Factor("over", n)

    @staticmethod
    def parse(s: str) -> "Factor":
        """Parse ``over:1`` / ``under=5`` / ``equal:2`` (reference:
        src/args.rs:79-104 — ``:`` or ``=`` both accepted)."""
        for sep in (":", "="):
            if sep in s:
                op, _, num = s.partition(sep)
                op = op.strip().lower()
                if op in ("under", "equal", "over"):
                    return Factor(op, int(num))
        raise ValueError(f"invalid replication factor {s!r} (want e.g. 'over:1')")


DEFAULT_FACTOR = Factor.over(1)


@dataclass(frozen=True)
class LshConfig:
    """MinHash + LSH banding parameters. 128 permutations in 32 bands of
    4 rows puts the S-curve threshold near (1/32)^(1/4) ~= 0.42 Jaccard."""

    num_perm: int = 128
    bands: int = 32
    shingle_k: int = 3  # word k-grams
    #: LSH buckets larger than this get salted pair generation
    salt_bucket_above: int = 256
    #: hard cap: buckets larger than this are truncated with a logged count
    max_bucket: int = 100_000
    seed: int = 42


@dataclass(frozen=True)
class NearDupConfig:
    """End-to-end near-dup pipeline over the image+caption table."""

    lsh: LshConfig = field(default_factory=LshConfig)
    phash_bands: int = 4
    phash_band_bits: int = 16
    psnr_min_db: float = 40.0
    max_cc_iterations: int = 20
    #: catch mirrored / vertically-flipped / 90-180-270-rotated reposts
    #: (the full dihedral group D4): bands the CANONICAL dihedral phash
    #: (orbit-min over 8 bit permutations, no extra decode) and verifies
    #: with orientation-max PSNR + canonical star subgroups
    flip_invariant: bool = False
    #: band/verify only one representative per (exact byte-group,
    #: caption, phash) equivalence class — members rejoin through the
    #: ladder's exact clusters, which stage 5 starts from, so the
    #: cluster output is identical
    #: (pipeline.collapse_to_representatives; the one exception is an
    #: over-cap viral bucket, which is dropped uncollapsed but SURVIVES
    #: collapsed — collapse only ever adds verified links) while a
    #: viral exact-dup group contributes band rows and verify decodes
    #: ONCE instead of once per copy. At web-scale exact-dup rates
    #: (30-50%) this is the difference between the band shuffle scaling
    #: with the corpus or with its distinct content.
    collapse_exact: bool = True
