"""The flagship near-duplicate detection pipeline over the image+caption
table — the full generalization of the reference's two-phase design
(north_rule):

    stage 1  exact ladder        exact byte-duplicate groups
             (size -> prefix -> suffix -> full hash; reference
              src/fs.rs:42-262, re-expressed in exact.py)
    stage 2  phash Hamming bands candidate pairs of visually-near images
             (generalizes the size pre-grouping: cheap key, high recall)
    stage 3  MinHash LSH         candidate pairs of caption-similar rows
             (salted band self-join; skew-safe)
    stage 4  verification        caption equality + decoded-pixel PSNR
             (the trusted "full hash" of the near-dup world)
    stage 5  connected components -> cluster assignment table
             over the exact-class quotient graph: each exact group
             enters as a ready-made cluster (group min id) and only
             the verified edges merge them (components.merge_assignments)

Candidate generation is a union of recall-oriented sources; precision
comes entirely from stage 4. Only ids + small evidence columns shuffle;
payload bytes are re-joined per candidate behind broadcast semi-joins.

Each stage can checkpoint via ``plans.checkpoint.Checkpointer`` so a
restarted job resumes after the last completed stage, and every stage
reports row counts (the reference's per-stage scan statistics surface,
src/lib.rs:120-139).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yadf_spark.config import NearDupConfig
from yadf_spark.operators import components, exact, minhash, verify
from yadf_spark.plans.checkpoint import Checkpointer


def prepare_images(df: DataFrame) -> DataFrame:
    """Make any corpus near-dup-ready: ensure ``caption`` (empty when
    absent — caption-equality verification then degrades to byte/pixel
    evidence only) and ``phash`` (computed from payload bytes via the
    codec when absent; undecodable rows get null and are excluded from
    phash banding, the G7 degrade-don't-fail posture). Filesystem
    corpora (sources.filesystem_corpus) carry only (image_id, bytes,
    size, mtime); the image-table corpus already has both columns."""
    if "caption" not in df.columns:
        df = df.withColumn("caption", F.lit(""))
    if "phash" not in df.columns:

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
        df = df.withColumn("phash", phash_udf(F.col("bytes")))
    return df


def exact_edges(assignments: DataFrame) -> DataFrame:
    """Exact-dup groups -> star edges (each member -> group minimum).
    Avoids materializing O(n^2) edges for large identical groups. The
    group minimum comes from ``groupBy().min()`` joined back (null-safe),
    NOT ``min() over (partition by group_key)``: the window form pins
    every row of one viral group onto a single task, while the aggregate
    gets map-side partial min and AQE can split the skewed join side —
    the same skew rule as the ladder's counts (exact.exact_assignments)."""
    roots = (
        assignments.groupBy("group_key")
        .agg(F.min("id").alias("root"))
        .withColumnRenamed("group_key", "_gk")
    )
    return (
        assignments.join(roots, assignments["group_key"].eqNullSafe(F.col("_gk")))
        .filter(F.col("id") != F.col("root"))
        .select(F.col("root").alias("id_a"), F.col("id").alias("id_b"))
    )


def exact_clusters(assignments: DataFrame) -> DataFrame:
    """Exact-dup groups -> assignment ``(id, cluster_id = group min id)``
    for the members of every group with two or more distinct ids —
    exactly ``components.connected_components(exact_edges(assignments))``
    (a star is its own component, labelled by its centre, the min), but
    with no edge list and no clustering pass. Same skew rule as
    :func:`exact_edges`: partial ``min``/``max`` aggregates joined back
    null-safe, never a window. A group qualifies when ``min != max``
    rather than when it counts two rows: a group whose rows all repeat
    one id has no star edge, so it gets no cluster either."""
    groups = (
        assignments.groupBy("group_key")
        .agg(F.min("id").alias("cluster_id"), F.max("id").alias("_max"))
        .filter(F.col("cluster_id") != F.col("_max"))
        .select(F.col("group_key").alias("_gk"), "cluster_id")
    )
    return assignments.join(
        groups, assignments["group_key"].eqNullSafe(F.col("_gk"))
    ).select("id", "cluster_id")


def collapse_to_representatives(
    images: DataFrame,
    assignments: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Keep ONE representative (min id) per (exact byte-group, caption,
    phash) equivalence class — the rows the banding + verification
    stages actually need to see.

    Cluster-preserving: within a class, rows are byte-identical (the
    ladder's trusted group keys — sha256 at the full-hash rung,
    whole-content prefix coverage below it), caption-identical AND
    phash-identical (phash joins the class key because a TABLE-supplied
    phash column is not necessarily a pure function of bytes — e.g. a
    null from an upstream decode failure next to a valid value on a
    byte-identical row; for synthesized phash the key is redundant and
    collapses exactly the same classes), so every candidate/verify
    signal (band membership, caption equality, byte equality, PSNR) is
    identical for any member vs the class representative; and every
    member shares its representative's exact cluster, which stage 5
    starts from (``exact_clusters``) before it merges verified edges.
    Replacing member edges with representative edges therefore yields
    the same connected components — except where the
    LSH ``max_bucket`` cap binds: an over-cap viral bucket is DROPPED
    uncollapsed (the documented recall trade) but stays under the cap
    collapsed, so collapse can only ADD verified links, never lose one.

    Rows absent from ``assignments`` (e.g. appended to the corpus after
    the assignments were computed) are kept as their own
    representatives: stale assignments degrade to less collapse, never
    to silently dropped content.

    Scale arithmetic (10^12 rows): costs one (id, group_key) x
    (id, caption, phash) join + a partial-min groupBy (~160 B/row,
    once); saves bands-per-row (~37) x the exact-dup rate from the
    band-table shuffle — at web-scale dup rates (30-50%) the band
    shuffle and the verify decode tier scale with DISTINCT content
    instead of corpus size, and a 10M-copy viral image costs 37 band
    rows, not 370M (generalizes the reference's "hash each distinct
    size-bucket member once", src/fs.rs:42-262, to the near-dup
    stages)."""
    sig_cols = [caption_col] + (["phash"] if "phash" in images.columns else [])
    keyed = assignments.select(F.col("id").alias(id_col), "group_key")
    classes = keyed.join(images.select(id_col, *sig_cols), id_col)
    reps = (
        classes.groupBy("group_key", *sig_cols)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    unassigned = images.select(id_col).join(keyed.select(id_col), id_col, "left_anti")
    return images.join(reps.unionByName(unassigned), id_col, "left_semi")


def candidate_buckets(images: DataFrame, cfg: NearDupConfig) -> DataFrame:
    """ONE bucket-membership table for every candidate source:

    * phash Hamming bands (band_idx 0..phash_bands-1) — visual near-dups;
    * MinHash LSH bands over caption shingles (band_idx offset by 100).

    A single table means a single salted self-join produces all
    candidate pairs — one shuffle instead of one per source. The exact
    Hamming radius check the separate phash path used to apply is
    deliberately dropped: verification's cheap JVM predicates (caption
    equality, byte equality) already reject band decoys before any
    Python decode runs, so the prefilter bought nothing but an extra
    join round."""
    # null phash (undecodable payload) and empty captions contribute no
    # bands: a shared null/empty key would otherwise collapse the whole
    # corpus into one garbage mega-bucket
    phash_src = images.filter(F.col("phash").isNotNull())
    if getattr(cfg, "flip_invariant", False):
        # band the orbit-min canonical phash so mirrored/rotated reposts
        # collide in every band (a narrow bit-permutation map over the
        # 8-byte hash column — no extra decode, no extra shuffle)
        from yadf_spark.operators.multimodal import with_canonical_phash

        phash_src = (
            with_canonical_phash(phash_src, "phash")
            .drop("phash")
            .withColumnRenamed("canonical_phash", "phash")
        )
    caption_src = images.filter(F.length(F.trim(F.col("caption"))) > 0)
    phash_b = minhash.hash_bands(
        phash_src, "image_id", "phash", cfg.phash_bands, cfg.phash_band_bits
    )
    sig = minhash.add_signature(caption_src.select("image_id", "caption"), cfg.lsh)
    mh_b = minhash.explode_bands(sig, cfg.lsh, id_col="image_id").withColumn(
        "band_idx", F.col("band_idx") + F.lit(100)
    )
    return phash_b.unionByName(mh_b)


def near_dup_gate(
    batch: DataFrame,
    history: DataFrame,
    cfg: NearDupConfig | None = None,
    checkpointer: Checkpointer | None = None,
    history_fingerprint: str | None = None,
    collapse_history: bool = False,
    ladder_cfg=None,
) -> dict:
    """Fuzzy IMAGE ingest gate: match a new batch of image rows against
    a history corpus by near-duplicate — the image sibling of
    ``minhash.near_dup_anti_join`` (text). Both frames must be ``prepare_images``-ready
    (caption/phash synthesized when absent) with distinct id spaces.

    Candidates come from the two-sided band join over each side's
    ``candidate_buckets`` (phash Hamming bands + caption MinHash bands),
    PLUS a full-content-hash band (band_idx 200) so byte-identical
    payloads are candidates even when undecodable (null phash) and
    caption-less — the gate must never miss an exact duplicate. The
    history is never self-joined: a viral history cluster contributes
    band rows, not pairs. Verification is the pipeline's own two-tier
    ``verify_pairs`` (hash-equality narrow tier, PSNR decode tier) over
    the unioned evidence columns — payload bytes still never shuffle.

    ``checkpointer`` gives the gate the pipeline's resume semantics: a
    workdir-backed Checkpointer makes the candidate and verify stages
    restartable (a crashed daily gate resumes after its last completed
    stage); the default is the lazy in-memory truncation every stage
    boundary gets anyway. Pass ``history_fingerprint`` (the history
    table's path/version) with a workdir so a resume against a
    DIFFERENT history misses instead of replaying stale candidates.

    ``collapse_history=True`` collapses the HISTORY side to one
    representative per (byte-group, caption, phash) class before
    banding/verification, running the exact ladder over the history
    inside a checkpointed stage (``ladder_cfg`` selects the hash algo;
    with a workdir-backed checkpointer a resumed or repeated daily gate
    re-reads the collapsed history instead of re-hashing it). The gate's
    verdicts are a pure function of each history row's (bytes,
    caption, phash), so a class representative matches exactly the
    batch rows any member would, and ``matched_ids``/``novel`` are
    unchanged — except where the LSH ``max_bucket`` cap binds, where
    an over-cap viral bucket is dropped uncollapsed but survives
    collapsed: collapse can only ADD matches. The batch side is never
    collapsed — every batch row keeps its own verdict row.
    ``verified_pairs``' ``id_b`` then names the class representative
    rather than each member.

    Returns ``{"verified_pairs": DataFrame(id_a=batch, id_b=history,
    verified, ...), "matched_ids": DataFrame(image_id),
    "novel": DataFrame, "checkpointer": Checkpointer}`` where ``novel``
    is ``batch`` rows (all columns) with no verified history match."""
    cfg = cfg or NearDupConfig()
    ck = checkpointer or Checkpointer(spark=batch.sparkSession, workdir=None, eager=False)
    from yadf_spark.operators import minhash

    if collapse_history:
        history = ck.stage(
            "gate_history_reps",
            {"history": history_fingerprint, "ladder": ladder_cfg},
            lambda: collapse_to_representatives(
                history, exact.exact_assignments(history, cfg=ladder_cfg)
            ),
        )

    def _buckets(side: DataFrame) -> DataFrame:
        # null payloads contribute no byte band: xxhash64(NULL) is the
        # constant seed, and a shared constant key would collapse every
        # fetch-failed row on both sides into one garbage mega-bucket
        # whose pairs then "verify" as byte-identical (NULL hash ==
        # NULL hash) — the same null-key rule candidate_buckets applies
        # to phash and captions. Zero-length payloads keep their band:
        # two empty payloads ARE byte-identical.
        byte_band = side.filter(F.col("bytes").isNotNull()).select(
            F.col("image_id").alias("id"),
            F.lit(200).alias("band_idx"),
            F.xxhash64("bytes").alias("band_hash"),
        )
        return candidate_buckets(side, cfg).unionByName(byte_band)

    # a row is never its own duplicate: under overlapping id spaces the
    # self-pair must not gate a batch row out (same rule as
    # minhash.near_dup_anti_join); it would also make the evidence
    # union ambiguous for that id, so drop it before verification
    cand = ck.stage(
        "gate_candidates",
        {
            "lsh": cfg.lsh,
            "phash_bands": cfg.phash_bands,
            "bits": cfg.phash_band_bits,
            "flip": ("d4" if cfg.flip_invariant else False),
            "history": history_fingerprint,
            "hist_collapse": collapse_history,
        },
        lambda: minhash.cross_candidate_pairs_from_buckets(
            _buckets(batch), _buckets(history), cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
        ).filter(F.col("id_a") != F.col("id_b")),
    )
    evidence_cols = ["image_id", "bytes", "caption", "phash"]
    evidence = batch.select(*evidence_cols).unionByName(history.select(*evidence_cols))

    def _verify_oriented() -> DataFrame:
        v = verify.verify_pairs(
            cand, evidence, psnr_min_db=cfg.psnr_min_db, dihedral=cfg.flip_invariant
        )
        # verify's viral-caption star tier rewrites its pairs as
        # (least(id, rep), greatest(id, rep)) and may pair two BATCH
        # rows (or two history rows) inside one star subgroup — neither
        # says anything about whether a batch row duplicates the
        # HISTORY. Re-attach each end's side, drop same-side pairs, and
        # restore the id_a=batch / id_b=history orientation the gate's
        # matched/novel split depends on.
        sides = batch.select(F.col("image_id").alias("id"), F.lit(0).alias("_s")).unionByName(
            history.select(F.col("image_id").alias("id"), F.lit(1).alias("_s"))
        )
        v = v.join(
            sides.select(F.col("id").alias("id_a"), F.col("_s").alias("_sa")), "id_a"
        ).join(sides.select(F.col("id").alias("id_b"), F.col("_s").alias("_sb")), "id_b")
        rest = [c for c in v.columns if c not in ("id_a", "id_b", "_sa", "_sb")]
        return v.filter(F.col("_sa") != F.col("_sb")).select(
            F.when(F.col("_sa") == 0, F.col("id_a")).otherwise(F.col("id_b")).alias("id_a"),
            F.when(F.col("_sa") == 0, F.col("id_b")).otherwise(F.col("id_a")).alias("id_b"),
            *rest,
        )

    # the stage boundary's checkpoint also serves the gate's fan-out:
    # three consumers (matched_ids, novel, the caller's verified_pairs)
    # would otherwise each re-run the whole verify DAG, PSNR decode
    # tier included
    verified = ck.stage(
        "gate_verify",
        {"psnr": cfg.psnr_min_db, "flip": ("d4" if cfg.flip_invariant else False)},
        _verify_oriented,
    )
    matched = (
        verified.filter(F.col("verified"))
        .select(F.col("id_a").alias("image_id"))
        .distinct()
    )
    novel = batch.join(matched, "image_id", "left_anti")
    return {
        "verified_pairs": verified,
        "matched_ids": matched,
        "novel": novel,
        "checkpointer": ck,
    }


def near_dup_pipeline(
    images: DataFrame,
    cfg: NearDupConfig | None = None,
    checkpointer: Checkpointer | None = None,
    base_assignment: DataFrame | None = None,
    base_fingerprint: str | None = None,
) -> dict:
    """Returns ``{"clusters": DataFrame(image_id, cluster_id),
    "verified_pairs": DataFrame, "metrics": [...]}``.

    ``base_assignment`` (yesterday's ``(id, cluster_id)`` table, as
    written by the cluster-assignment sink with ``image_id`` renamed to
    ``id``) switches the final stage from a from-scratch
    ``connected_components`` to the quotient-graph
    ``merge_assignments``: today's verified edges fold into the
    existing clusters on a batch-sized reduced graph, and rows present
    only in the base carry through unchanged — the incremental-ingest
    path. ``base_fingerprint`` keys the checkpoint stage (pass the base
    table's path/version so a resume against a different base misses)."""
    cfg = cfg or NearDupConfig()
    ck = checkpointer or Checkpointer(spark=images.sparkSession, workdir=None)

    assignments = ck.stage(
        "exact_ladder", {"cfg": "ladder-default"}, lambda: exact.exact_assignments(images)
    )

    # band/verify only (byte-group, caption)-class representatives:
    # cluster output is provably unchanged (collapse_to_representatives
    # docstring) while viral exact-dup groups stop multiplying the band
    # shuffle and the verify decode tier. Inline in this stage (not a
    # stage of its own) so the metrics surface and resume layout keep
    # their five stages; the flag is part of the fingerprint.
    band_src = (
        (lambda: collapse_to_representatives(images, assignments))
        if cfg.collapse_exact
        else (lambda: images)
    )
    buckets = ck.stage(
        "candidate_buckets",
        {
            "lsh": cfg.lsh,
            "phash_bands": cfg.phash_bands,
            "bits": cfg.phash_band_bits,
            "flip": ("d4" if cfg.flip_invariant else False),
            "collapse": cfg.collapse_exact,
        },
        lambda: candidate_buckets(band_src(), cfg),
    )
    candidates = ck.stage(
        "candidate_pairs",
        {"salt": cfg.lsh.salt_bucket_above, "cap": cfg.lsh.max_bucket},
        lambda: minhash.candidate_pairs_from_buckets(
            buckets, cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
        ),
    )

    verified = ck.stage(
        "verify",
        {"psnr": cfg.psnr_min_db, "flip": ("d4" if cfg.flip_invariant else False)},
        lambda: verify.verify_pairs(
            candidates, images, psnr_min_db=cfg.psnr_min_db, dihedral=cfg.flip_invariant
        ),
    )
    # no .distinct() here: connected_components canonicalizes + dedups
    # its input anyway, so an extra exchange would be pure overhead
    verified_edges = verified.filter(F.col("verified")).select("id_a", "id_b")

    if base_assignment is None:
        # Cluster over the exact-class quotient graph: the ladder has
        # already settled every exact group, so each one enters as a
        # ready-made cluster and only the verified edges are clustered.
        # merge_assignments(cc(E1), E2) == cc(E1 UNION E2) and
        # exact_clusters == cc(exact_edges), so the output equals
        # components over verified + exact star edges, while the graph
        # holds at most one edge per verified pair instead of one more
        # per exact copy: the exact-dup rate no longer pushes it off the
        # driver union-find path. The merge reads the exact assignment
        # four times; one eager checkpoint computes it once.
        assignment = ck.stage(
            "connected_components",
            {"max_iter": cfg.max_cc_iterations},
            lambda: components.merge_assignments(
                exact_clusters(assignments).localCheckpoint(eager=True),
                verified_edges,
                max_iterations=cfg.max_cc_iterations,
            ),
        )
        clusters = components.clusters_with_singletons(images, assignment)
    else:
        assignment = ck.stage(
            "merge_assignments",
            {"max_iter": cfg.max_cc_iterations, "base": base_fingerprint},
            lambda: components.merge_assignments(
                base_assignment, verified_edges.unionByName(exact_edges(assignments))
            ),
        )
        today = components.clusters_with_singletons(images, assignment)
        # rows only the base knows about (not re-observed today) carry
        # through with their existing labels — the assignment table is
        # cumulative under incremental ingest
        carried = assignment.join(
            images.select(F.col("image_id").alias("id")), "id", "left_anti"
        ).select(F.col("id").alias("image_id"), "cluster_id")
        clusters = today.unionByName(carried)

    result = {
        "clusters": clusters,
        "verified_pairs": verified,
        "candidates": candidates,
        "checkpointer": ck,
    }
    if ck.eager or ck.workdir is not None:
        result["metrics"] = ck.metrics()
    else:
        # lazy checkpointer: metrics() counts the checkpointed stages, so
        # calling it before the caller's final action materializes them
        # early — expose it as a callable to invoke AFTER forcing the result
        result["metrics_fn"] = ck.metrics
    return result


def _pairs_sum(counts: DataFrame, k_col: str) -> int:
    """Σ C(k, 2) over a count frame — one scalar to the driver.

    Summed as ``decimal(38,0)`` and halved in exact Python integer
    arithmetic: ``k·(k-1)`` wraps a long at k ≈ 3.04e9 members and a
    double division loses exactness above 2^53 pairs — both reachable
    at the corpus sizes this gate exists for, and a silently perturbed
    sum is precisely what a 0.99-threshold gate cannot absorb."""
    k = F.col(k_col).cast("decimal(38,0)")
    row = counts.agg(F.sum(k * (k - F.lit(1))).alias("p")).collect()[0]
    return int(row["p"] or 0) // 2


def dup_pair_recall_distributed(clusters: DataFrame, truth_labels: DataFrame) -> float:
    """Join-side dup-pair recall: fraction of ground-truth pairs
    co-clustered, with the truth given as its transitive-closure LABEL
    frame ``(image_id, true_cluster)`` — O(n) rows, never a pair list
    (a 10^12-row corpus's truth pairs would OOM any driver dict; the
    label encoding is what a production evaluation job would persist).

    Semantics match :func:`dup_pair_recall_driver_reference` exactly:
    the denominator is
    Σ C(k, 2) over truth clusters; a pair counts only when BOTH ids
    appear in ``clusters`` with the same NON-NULL cluster_id (an id the
    pipeline dropped — or emitted with a NULL assignment — can never
    match, so an empty assignment scores 0; the driver dict's
    ``is not None`` check, mirrored). Assumes one row per image_id in
    ``clusters``, like every assignment frame the pipeline emits. Both
    aggregates shuffle O(groups) narrow count rows; only two scalars
    reach the driver."""
    sizes = truth_labels.groupBy("true_cluster").agg(F.count("*").alias("k"))
    total = _pairs_sum(sizes, "k")
    if total == 0:
        return 1.0
    co = (
        clusters.filter(F.col("cluster_id").isNotNull())
        .join(truth_labels, "image_id")
        .groupBy("true_cluster", "cluster_id")
        .agg(F.count("*").alias("k"))
    )
    return _pairs_sum(co, "k") / total


def dup_pair_precision_distributed(
    clusters: DataFrame, truth_labels: DataFrame
) -> float:
    """Join-side dup-pair precision against the truth's transitive
    closure (same label-frame contract as
    :func:`dup_pair_recall_distributed`; ids absent from
    ``truth_labels`` are their own singleton component). Emitted pairs
    are Σ C(n, 2) per emitted cluster, correct pairs Σ C(k, 2) per
    (cluster, truth-component) cell — the same arithmetic as
    :func:`dup_pair_precision_driver_reference`'s union-find, derived
    from ONE scan: the (cluster, comp) cell counts are aggregated once,
    then both sums read that small frame (per-cluster n = Σ of its
    cells). Truth labels and raw ids live in disjoint tag namespaces
    (``t:`` / ``s:`` prefixes), so a truth cluster named after a member
    id can never absorb an untruthed row with that id.

    NULL ``cluster_id`` means UNASSIGNED — those rows emit no pairs,
    mirroring the recall gate's ``isNotNull`` filter. Without the
    filter, Spark's groupBy would pool every NULL-assigned row into one
    phantom cluster whose pairs deflate precision."""
    labeled = (
        clusters.filter(F.col("cluster_id").isNotNull())
        .join(truth_labels, "image_id", "left")
    ).select(
        "cluster_id",
        F.coalesce(
            F.concat(F.lit("t:"), F.col("true_cluster")),
            F.concat(F.lit("s:"), F.col("image_id")),
        ).alias("comp"),
    )
    cells = (
        labeled.groupBy("cluster_id", "comp").agg(F.count("*").alias("k")).persist()
    )
    try:
        emitted = _pairs_sum(
            cells.groupBy("cluster_id").agg(F.sum("k").alias("n")), "n"
        )
        if emitted == 0:
            return 1.0
        correct = _pairs_sum(cells, "k")
    finally:
        cells.unpersist()
    return correct / emitted


def dup_pair_recall_driver_reference(
    clusters: DataFrame, truth_pairs: set[tuple[str, str]]
) -> float:
    """Fraction of ground-truth duplicate pairs co-clustered — the
    driver's recall >= 0.99 gate (BASELINE.json). DRIVER-SIDE REFERENCE
    ONLY (it collects the full assignment into a dict — O(corpus)
    driver memory, a scale trap on a real cluster): the bench gate and
    every product path run :func:`dup_pair_recall_distributed`; this
    exists solely as the equality oracle in
    tests/test_pipeline.py::test_distributed_metrics_match_driver_reference."""
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    if not truth_pairs:
        return 1.0
    # a pair counts only when BOTH ids were actually clustered — two
    # missing ids must not match as None == None, or an empty clusters
    # frame would score recall 1.0 and falsely pass the >= 0.99 gate
    hit = sum(
        1 for a, b in truth_pairs if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    return hit / len(truth_pairs)


def dup_pair_precision_driver_reference(
    clusters: DataFrame, truth_pairs: set[tuple[str, str]]
) -> float:
    """Fraction of co-clustered pairs that are true duplicates, judged
    against the TRANSITIVE CLOSURE of the planted pairs (a pipeline that
    co-clusters a-b and b-c has also asserted a-c; the closure is what
    makes that assertion correct rather than a false positive).
    DRIVER-SIDE REFERENCE ONLY (collects the full assignment — see
    :func:`dup_pair_recall_driver_reference`); product paths use
    :func:`dup_pair_precision_distributed`.

    Counted without materializing any pair list: a union-find over the
    planted pairs labels each id with its truth component, then per
    emitted cluster the correct pairs are sum-over-components C(k, 2)
    and the emitted pairs C(n, 2) — linear in corpus size even when a
    (buggy) pipeline emits one giant cluster. Rows with a NULL
    ``cluster_id`` are unassigned and emit no pairs, mirroring the
    distributed implementation."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in truth_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    by_cluster: dict = {}
    for r in clusters.collect():
        if r["cluster_id"] is not None:
            by_cluster.setdefault(r["cluster_id"], []).append(r["image_id"])

    emitted = 0
    correct = 0
    for members in by_cluster.values():
        n = len(members)
        if n < 2:
            continue
        emitted += n * (n - 1) // 2
        roots: dict[str, int] = {}
        for m in members:
            root = find(m) if m in parent else m
            roots[root] = roots.get(root, 0) + 1
        correct += sum(k * (k - 1) // 2 for k in roots.values())
    return 1.0 if emitted == 0 else correct / emitted
