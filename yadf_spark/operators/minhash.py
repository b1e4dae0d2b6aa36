"""MinHash signatures + LSH banding + salted candidate-pair generation.

The near-dup generalization of the reference's staged ladder
(reference: src/fs.rs:42-262): the cheap key is an LSH band hash
instead of a byte size; the "bucket of size >= 2 -> refine" rule is the
band-bucket self-join; the exact-verification pass plays the role of
the trusted full hash.

Design for 10^12 rows:
* string shingling + shingle hashing stay JVM-side (codegen) — Python
  only sees fixed-width int64 arrays through Arrow;
* the MinHash kernel is one ``minimum.reduceat`` per permutation over a
  flattened batch — no per-row Python loop;
* band buckets self-join on ``(band_idx, band_hash)``; hot buckets are
  salted: the left side fans out to ``s`` sub-cells so a viral caption
  cannot pin a single reducer (reference analog: nested per-bucket
  parallelism, src/fs.rs:176-183 — the north_rule names salted
  repartitioning explicitly);
* buckets above a hard cap are dropped with a logged count — a
  documented recall trade, never a silent one.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadf_spark.config import LshConfig
from yadf_spark.functions import text as T

log_default = logging.getLogger(__name__).warning


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def make_minhash_udf(num_perm: int, seed: int):
    """pandas UDF: array<long> shingle hashes -> array<long> signature.

    pi_i(x) = (a_i * x + b_i) mod 2^64 with odd a_i is a bijection on
    Z_2^64 — a seeded family of "random enough" permutations; the
    signature is elementwise min over the row's shingle set."""
    a, b = _perm_params(num_perm, seed)

    @F.pandas_udf("array<long>")
    def minhash_sig(hashes: pd.Series) -> pd.Series:
        lengths = hashes.map(len).to_numpy(dtype=np.int64)
        if len(lengths) == 0:
            return pd.Series([], dtype=object)
        # rows are guaranteed non-empty by word_shingles
        flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes]).astype(
            np.uint64
        )
        offsets = np.zeros(len(lengths), dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        sig = np.empty((num_perm, len(lengths)), dtype=np.uint64)
        for p in range(num_perm):
            vals = a[p] * flat + b[p]  # wrapping uint64 arithmetic
            sig[p] = np.minimum.reduceat(vals, offsets)
        out = sig.astype(np.int64).T
        return pd.Series(list(out))

    return minhash_sig


def hash_bands(
    df: DataFrame, id_col: str, hash_col: str, bands: int, band_bits: int
) -> DataFrame:
    """``(id, band_idx, band_hash)`` bucket membership from a 64-bit
    hash column: band i is bits ``[i*band_bits, (i+1)*band_bits)`` —
    the Hamming-band idiom shared by the phash prefilter, the
    flip-invariant canonical phash, and any future fixed-width-hash
    modality. One definition so the batch pipeline and streaming index
    can never drift into incompatible bucket tables."""
    mask = (1 << band_bits) - 1
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
        F.col(hash_col).alias("_h"),
    ).select(
        "id",
        "band_idx",
        F.expr(f"shiftrightunsigned(_h, band_idx * {band_bits})")
        .bitwiseAND(F.lit(mask))
        .alias("band_hash"),
    )


def add_signature(
    df: DataFrame, cfg: LshConfig, text_col: str = "caption", out_col: str = "sig"
) -> DataFrame:
    sh = T.shingle_hashes(F.col(text_col), cfg.shingle_k)
    udf = make_minhash_udf(cfg.num_perm, cfg.seed)
    return df.withColumn("_sh", sh).withColumn(out_col, udf(F.col("_sh"))).drop("_sh")


def explode_bands(
    df: DataFrame,
    cfg: LshConfig,
    id_col: str,
    sig_col: str = "sig",
    band_lo: int = 0,
    band_hi: int | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash) — the LSH bucket membership table.

    Deliberately a single tiny expression (explode a 0..bands-1 sequence,
    then one column-indexed slice + hash) rather than an array of
    ``bands`` struct expressions: the expanded form generates
    O(bands) copies of the hash/slice code and its whole-stage-codegen
    compilation alone cost more than the query (measured: 32 s -> 9 s
    cold for 32 bands x 12k rows).

    ``band_lo``/``band_hi`` (inclusive) restrict the explode to a band
    range — the unit of the multi-pass shuffle bound (SCALE.md stage 2):
    the band hash mixes ``band_idx`` in, so buckets from different
    passes can never merge."""
    if band_hi is None:
        band_hi = cfg.bands - 1
    rows = cfg.num_perm // cfg.bands
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(band_lo), F.lit(band_hi))).alias("band_idx"),
        F.col(sig_col).alias("_sig"),
    ).select(
        "id",
        "band_idx",
        F.xxhash64("band_idx", F.slice("_sig", F.col("band_idx") * rows + 1, rows)).alias(
            "band_hash"
        ),
    )


def _pairs_from_sorted_ids(ids):
    """All combinations (id_a < id_b) of a sorted id array, as one JVM
    column expression. This is the hot path for MID-size buckets
    (3 <= n <= salt cap) now that size-2 buckets — the plurality — are
    a plain projection: higher-order-function lambdas are interpreted
    per element, but with n==2 split out the elements that reach this
    expression are few, and staying JVM-side avoids the real cost of
    the pandas alternative — Arrow-boxing hundreds of thousands of
    variable-length id arrays into Python objects (stage metrics: the
    mapInPandas stage ran at ~3x its CPU time waiting on workers; this
    expression runs at cpu == run)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def candidate_pairs_from_buckets(
    buckets: DataFrame,
    salt_bucket_above: int = 256,
    max_bucket: int = 100_000,
    log=None,
) -> DataFrame:
    """Expand each (band_idx, band_hash) bucket into candidate pairs
    ``(id_a < id_b)``, distinct across bands.

    ONE shuffle builds ``groupBy(band).collect_list(id)`` and the
    result is materialized with a ``localCheckpoint`` (fused with the
    bucket-size max-scan into a single job): the small- and big-bucket
    branches are separate consumers, and exchange reuse shares only the
    SHUFFLE FILES — each consumer would re-run the final collect_list
    merge over them (measured: ~1.6 s of the 8.4 s job duplicated at
    150k images). The checkpoint pays one local write and both branches
    read executor-local blocks; lineage above it (signature UDF
    included) runs exactly once. Durability note: localCheckpoint
    blocks are lost with their executor — the pipeline Checkpointer's
    workdir mode is the durable resume path; this is intra-stage
    plumbing.

    Normal buckets expand to pairs entirely JVM-side: size-2 buckets
    (the plurality) are a plain ``ids[0], ids[1]`` projection, sizes 3
    to the salt cap use the ``_pairs_from_sorted_ids`` combination
    expression; only mega-buckets take the salted self-join path — bucket size ``n``
    gives a salt factor ``s = ceil(n / salt_bucket_above)``; the right
    side lands in one of ``s`` cells (by id hash), the left side
    replicates to all ``s``, and the join key ``(band_idx, band_hash,
    cell)`` fans a viral bucket out to ``s`` independent reducer cells
    instead of one straggler task. When the measured maximum bucket
    size never reaches the salt threshold, the join subplan is elided
    entirely — its driver-side fixed cost is pure Amdahl serial time.

    Buckets above ``max_bucket`` are dropped with a logged count — a
    documented recall trade, never a silent one."""
    grouped = (
        buckets.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    # Checkpoint, NOT persist: checkpoint blocks are freed by the
    # context cleaner when the frame is collected — no unpersist()
    # obligation a library caller never gets to honor (same rationale as
    # exact.exact_assignments' candidate materialization).
    # LAZY checkpoint fused with the max-scan action below: the first
    # action computes the aggregation once, stores the blocks, AND
    # returns the bucket-size maximum — one job instead of an eager
    # materialization job followed by a stats job. The max decides the
    # rest of the plan: the salted self-join branch is a multi-stage
    # subplan (two shuffle exchanges + AQE re-planning rounds) whose
    # DRIVER-side cost is paid even when it matches zero buckets — and
    # "no bucket above the salt threshold" is the common case (healthy
    # band width keeps buckets tiny). That fixed cost is exactly the
    # Amdahl serial term the north rule's scaling gate punishes, so the
    # branch is skipped unless the data actually needs it. The same max
    # powers the truncation report without a second job.
    grouped = grouped.localCheckpoint(eager=False)
    # drop count rides the SAME fused stats job as the max — the
    # "never a silent one" contract costs zero extra actions, and the
    # module logger reports it even when no explicit log fn is wired
    stats = grouped.agg(
        F.max("n").alias("m"),
        F.count(F.when(F.col("n") > max_bucket, True)).alias("dropped"),
    ).first()
    n_max = (stats["m"] if stats is not None else 0) or 0
    n_dropped = (stats["dropped"] if stats is not None else 0) or 0
    if n_dropped:
        (log or log_default)(
            f"minhash-lsh: dropped {n_dropped} buckets larger than {max_bucket} rows"
        )

    cap = min(salt_bucket_above, max_bucket)
    # size-2 buckets — the overwhelming majority — are a pure JVM
    # projection (ids is sorted), never touching a Python worker: stage
    # metrics showed the mapInPandas stage burning ~3x its CPU time in
    # JVM-threads-waiting-on-Python, almost all of it the per-bucket
    # Python loop over millions of trivial pairs
    pair2 = grouped.filter(F.col("n") == 2).select(
        F.col("ids")[0].alias("id_a"), F.col("ids")[1].alias("id_b")
    )
    small = (
        grouped.filter((F.col("n") > 2) & (F.col("n") <= cap))
        .select(F.explode(_pairs_from_sorted_ids(F.col("ids"))).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    )
    small = (
        pair2.unionByName(small)
        # duplicate ids inside one bucket (duplicate input rows) would
        # otherwise emit self-pairs; the big-bucket join filters them too
        .filter(F.col("id_a") != F.col("id_b"))
    )
    if n_max <= salt_bucket_above:
        return small.distinct()

    big = (
        grouped.filter((F.col("n") > salt_bucket_above) & (F.col("n") <= max_bucket))
        .select("band_idx", "band_hash", "n", F.explode("ids").alias("id"))
        .withColumn("s", F.ceil(F.col("n") / F.lit(salt_bucket_above)).cast("int"))
        .withColumn("cell", F.pmod(F.xxhash64("id"), F.col("s")).cast("int"))
    )
    left = big.select(
        "band_idx",
        "band_hash",
        F.col("id").alias("id_a"),
        F.explode(F.sequence(F.lit(0), F.col("s") - 1)).alias("cell"),
    )
    right = big.select("band_idx", "band_hash", F.col("id").alias("id_b"), "cell")
    big_pairs = (
        left.join(right, ["band_idx", "band_hash", "cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return small.unionByName(big_pairs).distinct()


def minhash_candidates(
    df: DataFrame,
    cfg: LshConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
    band_passes: int = 1,
) -> DataFrame:
    """End-to-end: text -> signature -> bands -> salted pair generation.

    The bucket table's sole consumer is the groupBy inside
    ``candidate_pairs_from_buckets``, whose checkpoint runs the whole
    subtree — signature UDF included — exactly once.

    ``band_passes > 1`` is the peak-shuffle bound for extreme corpus
    sizes (SCALE.md stage 2): the band table costs ``bands x (id +
    hash)`` bytes per row — ~0.8 PB at 10^12 rows — and a cluster that
    cannot absorb that in one exchange runs the bands in ``k``
    sequential groups of ``ceil(bands/k)``, each pass shuffling 1/k of
    the volume. Signatures are computed ONCE (checkpointed before the
    first pass); each pass explodes only its band range, and the final
    ``distinct`` folds pairs discovered by more than one pass. The
    result set is bit-identical to the single-pass plan for every k."""
    signed = add_signature(df.select(id_col, text_col), cfg, text_col=text_col)
    if band_passes <= 1:
        buckets = explode_bands(signed, cfg, id_col=id_col)
        return candidate_pairs_from_buckets(buckets, cfg.salt_bucket_above, cfg.max_bucket)
    signed = signed.localCheckpoint(eager=True)
    per = -(-cfg.bands // band_passes)  # ceil
    out: DataFrame | None = None
    for p in range(band_passes):
        lo, hi = p * per, min((p + 1) * per, cfg.bands) - 1
        if lo > hi:
            break
        buckets = explode_bands(signed, cfg, id_col=id_col, band_lo=lo, band_hi=hi)
        pairs = candidate_pairs_from_buckets(buckets, cfg.salt_bucket_above, cfg.max_bucket)
        out = pairs if out is None else out.unionByName(pairs)
    assert out is not None
    return out.distinct()


def exact_jaccard(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Verification refinement: exact word-shingle Jaccard for candidate
    pairs. The candidate id set is small relative to the corpus, so the
    (potentially huge) document table is reduced by a broadcast semi-join
    first — its shingle arrays never shuffle at corpus scale; only the
    candidate subset does."""
    # pairs feed two consumers (the id set and the join) — eager
    # localCheckpoint, NOT persist: the broadcast(cand_ids) below builds
    # on a driver thread concurrently with the main join, and an
    # unmaterialized frame would make both compute the candidate DAG
    # (signature UDF included); checkpoint blocks are freed by the
    # context cleaner, so a library caller owes no unpersist()
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs = pairs.count()
    cand_ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # the id set has at most 2 * n_pairs rows — broadcast only while that
    # bound fits driver/executor heap; beyond it a shuffled semi-join is
    # the right plan (AQE may still convert it from runtime stats)
    if 2 * n_pairs < 2_000_000:
        cand_ids = F.broadcast(cand_ids)
    sh = (
        df.select(F.col(id_col).alias("_id"), T.word_shingles(F.col(text_col), k).alias("_sh"))
        .join(cand_ids, "_id", "left_semi")
        # two consumers (the a and b join sides) and — with a broadcast
        # semi-join — no exchange for Spark to reuse between them: an
        # unmaterialized frame would scan + shingle the corpus twice
        .localCheckpoint(eager=True)
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def cross_candidate_pairs_from_buckets(
    buckets_a: DataFrame,
    buckets_b: DataFrame,
    salt_bucket_above: int = 256,
    max_bucket: int = 100_000,
    log=None,
) -> DataFrame:
    """Candidate pairs BETWEEN two corpora: ``(id_a from A, id_b from B)``
    for every bucket key ``(band_idx, band_hash)`` populated on both
    sides — the batch-vs-history join a production ingest runs daily
    (dedup today's crawl against the accumulated corpus by NEAR-dup).

    Never a self-join: the history side is only ever paired against the
    batch, so a bucket costs ``n_a * n_b`` pair rows instead of the
    union's ``(n_a + n_b)^2 / 2``, and history-internal duplicates (long
    since resolved) generate nothing. Same scale discipline as
    ``candidate_pairs_from_buckets``: ONE shuffle builds the per-side id
    lists; buckets whose sides both fit under ``salt_bucket_above``
    expand as a pure JVM cross-product expression; a bucket with a viral
    side takes a salted join (A replicates to ``s`` cells, B lands in
    one — no single-reducer straggler); sides above ``max_bucket`` are
    dropped with a logged count, a documented recall trade, never a
    silent one."""
    tagged = buckets_a.select(
        "id", "band_idx", "band_hash", F.lit(0).alias("_side")
    ).unionByName(buckets_b.select("id", "band_idx", "band_hash", F.lit(1).alias("_side")))
    # collect_list skips nulls, so each side's WHEN picks out its ids
    grouped = (
        tagged.groupBy("band_idx", "band_hash")
        .agg(
            F.sort_array(F.collect_list(F.when(F.col("_side") == 0, F.col("id")))).alias(
                "ids_a"
            ),
            F.sort_array(F.collect_list(F.when(F.col("_side") == 1, F.col("id")))).alias(
                "ids_b"
            ),
        )
        .withColumn("na", F.size("ids_a"))
        .withColumn("nb", F.size("ids_b"))
        # a bucket empty on either side pairs nothing — drop it before
        # the checkpoint materializes the id lists
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    # lazy checkpoint fused with the stats scan: one job computes the
    # aggregation, stores the blocks, and returns the side maximum that
    # decides whether the salted-join subplan exists at all (its
    # driver-side fixed cost is Amdahl serial time when no bucket needs
    # it — same elision rule as the self-join path)
    grouped = grouped.localCheckpoint(eager=False)
    stats = grouped.agg(
        F.max(F.greatest("na", "nb")).alias("m"),
        F.count(
            F.when((F.col("na") > max_bucket) | (F.col("nb") > max_bucket), True)
        ).alias("dropped"),
    ).first()
    n_max = (stats["m"] if stats is not None else 0) or 0
    n_dropped = (stats["dropped"] if stats is not None else 0) or 0
    if n_dropped:
        (log or log_default)(
            f"cross-lsh: dropped {n_dropped} buckets with a side larger than {max_bucket} rows"
        )
    kept = grouped.filter((F.col("na") <= max_bucket) & (F.col("nb") <= max_bucket))
    small = (
        kept.filter(F.greatest("na", "nb") <= salt_bucket_above)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids_a"),
                        lambda x: F.transform(
                            F.col("ids_b"),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("_p")
        )
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    )
    if n_max <= salt_bucket_above:
        return small.distinct()

    big = kept.filter(F.greatest("na", "nb") > salt_bucket_above).withColumn(
        "s", F.ceil(F.greatest("na", "nb") / F.lit(salt_bucket_above)).cast("int")
    )
    a_rows = big.select("band_idx", "band_hash", "s", F.explode("ids_a").alias("id_a")).select(
        "band_idx",
        "band_hash",
        "id_a",
        F.explode(F.sequence(F.lit(0), F.col("s") - 1)).alias("cell"),
    )
    b_rows = big.select("band_idx", "band_hash", "s", F.explode("ids_b").alias("id_b")).select(
        "band_idx",
        "band_hash",
        "id_b",
        F.pmod(F.xxhash64("id_b"), F.col("s")).cast("int").alias("cell"),
    )
    big_pairs = a_rows.join(b_rows, ["band_idx", "band_hash", "cell"]).select("id_a", "id_b")
    return small.unionByName(big_pairs).distinct()


def minhash_candidates_between(
    batch: DataFrame,
    history: DataFrame,
    cfg: LshConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH candidate pairs between a new batch and a history
    corpus: signatures per side (same permutation family — same seed —
    so band hashes are comparable), band explode per side, then the
    cross bucket join. ``(id_a, id_b)`` with id_a from ``batch``.
    Self-pairs (same id on both sides — a history that accidentally
    contains the batch) are dropped here: a row is never a near-dup
    CANDIDATE of itself, whatever the caller's threshold."""
    sa = add_signature(batch.select(id_col, text_col), cfg, text_col=text_col)
    sb = add_signature(history.select(id_col, text_col), cfg, text_col=text_col)
    return cross_candidate_pairs_from_buckets(
        explode_bands(sa, cfg, id_col=id_col),
        explode_bands(sb, cfg, id_col=id_col),
        cfg.salt_bucket_above,
        cfg.max_bucket,
    ).filter(F.col("id_a") != F.col("id_b"))


def exact_jaccard_between(
    pairs: DataFrame,
    batch: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact word-shingle Jaccard verification for CROSS-corpus candidate
    pairs: ``id_a`` resolves against ``batch``, ``id_b`` against
    ``history`` (the two corpora may use overlapping id spaces — each
    side joins only its own). Same scale shape as ``exact_jaccard``:
    each (potentially huge) corpus is cut to its candidate id set by a
    size-gated broadcast semi-join before any text shuffles."""
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs = pairs.count()

    def _side(df: DataFrame, pair_col: str, out_id: str, out_sh: str) -> DataFrame:
        ids = pairs.select(F.col(pair_col).alias("_id")).distinct()
        if n_pairs < 2_000_000:
            ids = F.broadcast(ids)
        return (
            df.select(
                F.col(id_col).alias("_id"), T.word_shingles(F.col(text_col), k).alias("_sh")
            )
            .join(ids, "_id", "left_semi")
            .select(F.col("_id").alias(out_id), F.col("_sh").alias(out_sh))
        )

    a = _side(batch, "id_a", "id_a", "sh_a")
    b = _side(history, "id_b", "id_b", "sh_b")
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def near_dup_anti_join(
    batch: DataFrame,
    history: DataFrame,
    cfg: LshConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Rows of ``batch`` with NO near-duplicate in ``history`` — the
    batch-mode fuzzy ingest gate (the streaming version is the persisted
    band index, streaming/dedup.py). All ``batch`` columns pass through
    untouched; ``history`` never self-joins and never shuffles payload
    (bands + the candidate semi-join subset only)."""
    cfg = cfg or LshConfig()
    cand = minhash_candidates_between(batch, history, cfg, id_col, text_col)
    # a row is never its own duplicate: when the id spaces overlap (a
    # history that accidentally contains the batch), the self-pair must
    # not gate the row out — only a DIFFERENT row may
    cand = cand.filter(F.col("id_a") != F.col("id_b"))
    jac = exact_jaccard_between(cand, batch, history, id_col, text_col, k=cfg.shingle_k)
    matched = (
        jac.filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return batch.join(matched, id_col, "left_anti")


def edit_distance_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_rel_dist: float = 0.2,
) -> DataFrame:
    """Verification refinement for SHORT texts: exact Levenshtein on
    candidate pairs, kept when ``dist / max(len_a, len_b) <=
    max_rel_dist``. Captions of a few words give shingle sets too small
    for Jaccard to be stable (one edited word can halve it); character
    edit distance degrades gracefully there, so this is the
    alt-text/caption verifier next to ``exact_jaccard``'s document one.

    Same scale shape as exact_jaccard: the corpus is cut to the
    candidate id set by a (size-gated) broadcast semi-join before any
    text moves; Levenshtein's O(len_a*len_b) work runs JVM-side
    (whole-stage codegen, no Python) and only on candidate pairs —
    never all-pairs. Output ``(id_a, id_b, edit_dist, rel_dist)``."""
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs = pairs.count()
    cand_ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    if 2 * n_pairs < 2_000_000:
        cand_ids = F.broadcast(cand_ids)
    txt = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .join(cand_ids, "_id", "left_semi")
        .localCheckpoint(eager=True)  # two consumers, see exact_jaccard
    )
    a = txt.select(F.col("_id").alias("id_a"), F.col("_t").alias("t_a"))
    b = txt.select(F.col("_id").alias("id_b"), F.col("_t").alias("t_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    dist = F.levenshtein("t_a", "t_b")
    rel = F.round(dist / F.greatest(F.length("t_a"), F.length("t_b"), F.lit(1)), 6)
    return (
        joined.select(
            "id_a",
            "id_b",
            dist.cast("int").alias("edit_dist"),
            rel.alias("rel_dist"),
        )
        .filter(F.col("rel_dist") <= max_rel_dist)
    )
