"""End-to-end near-dup pipeline on the planted fixture corpus: the
recall/precision gate (reference model: the differential golden-output
gate, scripts/bench-versions.sh:157-188 — normalized cluster assignments
diffed against planted truth)."""

from __future__ import annotations

import pytest

from yadf_spark.fixtures import images
from yadf_spark.operators import pipeline

N = 400


@pytest.fixture(scope="module")
def result(spark):
    df = spark.createDataFrame(images.images_pdf(N)).cache()
    out = pipeline.near_dup_pipeline(df)
    out["clusters_rows"] = out["clusters"].collect()
    return out


def test_recall_on_planted_truth(result):
    truth = images.truth_dup_pairs(N)
    assign = {r["image_id"]: r["cluster_id"] for r in result["clusters_rows"]}
    hit = sum(1 for a, b in truth if assign[a] == assign[b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_precision_no_false_merges(result):
    """Planted decoys / containment pairs / uniques must never co-cluster:
    every produced cluster must be a subset of a truth cluster."""
    truth = images.truth_pdf(N).set_index("image_id")["true_cluster"]
    by_cluster: dict[str, set[str]] = {}
    for r in result["clusters_rows"]:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["image_id"])
    for cid, members in by_cluster.items():
        truths = {truth[m] for m in members}
        assert len(truths) == 1, f"cluster {cid} merges truth clusters {truths}"


def test_every_row_assigned_exactly_once(result):
    ids = [r["image_id"] for r in result["clusters_rows"]]
    assert len(ids) == N and len(set(ids)) == N


def test_decoys_generated_then_rejected(result):
    """Band-collision decoys must surface as candidates (the prefilter is
    recall-oriented) but be rejected by verification and never reach a
    cluster — the fixture analog of the reference's collide-prefix
    corpus pairs (gen-corpus.py:199-217), which collide at the
    prefix-hash stage and are killed by the full hash. Their rejection
    must be cheap: captions differ, so the JVM caption-equality
    predicate kills them before any Python pixel decode."""
    decoy_pairs = set()
    for i in range(N):
        if images.plan_row(i).kind == "decoy_b":
            decoy_pairs.add((f"img-{i - 1:09d}", f"img-{i:09d}"))
    assert decoy_pairs

    cands = {(r["id_a"], r["id_b"]) for r in result["candidates"].collect()}
    assert decoy_pairs <= cands, "decoys must collide in a phash band bucket"
    verified_rows = {
        (r["id_a"], r["id_b"]): r for r in result["verified_pairs"].collect()
    }
    for p in decoy_pairs:
        assert not verified_rows[p]["verified"]
        assert not verified_rows[p]["caption_equal"]
        assert verified_rows[p]["psnr_db"] == -1.0  # never decoded


def test_metrics_reported(result):
    names = [m["stage"] for m in result["metrics"]]
    assert names == [
        "exact_ladder",
        "candidate_buckets",
        "candidate_pairs",
        "verify",
        "connected_components",
    ]
    assert all(m["seconds"] >= 0 for m in result["metrics"])
    assert all(m["rows"] >= 0 for m in result["metrics"])


def test_checkpoint_resume(spark, tmp_path):
    """Second run with the same config must resume every stage from its
    parquet checkpoint (and produce identical clusters); a changed config
    fingerprint must recompute."""
    from yadf_spark.plans.checkpoint import Checkpointer

    df = spark.createDataFrame(images.images_pdf(160))
    ck1 = Checkpointer(spark=spark, workdir=str(tmp_path))
    out1 = pipeline.near_dup_pipeline(df, checkpointer=ck1)
    c1 = sorted((r["image_id"], r["cluster_id"]) for r in out1["clusters"].collect())
    assert not any(m["resumed"] for m in ck1.metrics())

    ck2 = Checkpointer(spark=spark, workdir=str(tmp_path))
    out2 = pipeline.near_dup_pipeline(df, checkpointer=ck2)
    c2 = sorted((r["image_id"], r["cluster_id"]) for r in out2["clusters"].collect())
    assert all(m["resumed"] for m in ck2.metrics())
    assert c1 == c2

    from yadf_spark.config import NearDupConfig

    ck3 = Checkpointer(spark=spark, workdir=str(tmp_path))
    pipeline.near_dup_pipeline(df, cfg=NearDupConfig(psnr_min_db=41.0), checkpointer=ck3)
    resumed = {m["stage"]: m["resumed"] for m in ck3.metrics()}
    assert resumed["exact_ladder"] and resumed["candidate_buckets"]
    assert not resumed["verify"], "changed verify config must recompute"


def test_fused_pipeline_job_count(spark):
    """Spark jobs of one fused pipeline call, made the way the benchmark
    makes it: a lazy in-memory checkpointer and one ``noop`` write. Each
    job is a scheduling round trip, the fixed cost of a small batch.
    This 160-row fixture (exact groups, near-duplicate PNG/JPEG pairs,
    containment pairs and decoys) ran 50 jobs in each of 20 runs, five
    per session in two sessions each at ``local[4]`` and ``local[12]``
    (spread 0); the bound holds it there."""
    from yadf_spark.plans.checkpoint import Checkpointer

    imgs = images.images_df(spark, 160, seed=7)
    sc = spark.sparkContext
    group = "fused-pipeline-job-count"
    sc.setJobGroup(group, group)
    try:
        res = pipeline.near_dup_pipeline(
            imgs, checkpointer=Checkpointer(spark=spark, workdir=None, eager=False)
        )
        res["clusters"].write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 50, n_jobs


def test_recall_at_scale(spark):
    """The recall gate again at 12.5x the planted corpus (5k images,
    generated distributed) — guards against recall regressions that only
    appear once LSH buckets are populated densely enough to salt/cap."""
    n = 5000
    df = images.images_df(spark, n, seed=42).cache()
    out = pipeline.near_dup_pipeline(df)
    assign = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    truth = images.truth_dup_pairs(n)
    hit = sum(1 for a, b in truth if assign[a] == assign[b])
    recall = hit / len(truth)
    df.unpersist()
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99 at n={n}"


def test_viral_caption_star_verification(spark):
    """A caption shared by hundreds of pixel-unrelated images must not
    trigger O(n^2) pixel decodes: big caption groups verify in star form
    (each member once vs the group representative). True re-encodes
    still cluster; decoys stay singletons."""
    import numpy as np
    import pandas as pd

    from yadf_spark.fixtures import codec
    from yadf_spark.operators import verify

    rng = np.random.default_rng(21)
    caption = "same viral caption on every row"
    rows = []
    base_px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8).astype(np.uint8)
    def phash_of(payload):
        return codec.perceptual_hash(codec.decode_image(payload))

    enc0 = codec.encode_png(base_px)
    enc1 = codec.encode_jpeg(base_px, step=2)  # PSNR ~53dB
    rows.append(("rec-0", enc0, caption, phash_of(enc0)))
    rows.append(("rec-1", enc1, caption, phash_of(enc1)))
    for i in range(200):  # pixel-unrelated decoys sharing the caption
        px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8).astype(np.uint8)
        enc = codec.encode_png(px)
        rows.append((f"dec-{i:03d}", enc, caption, phash_of(enc)))
    assert rows[0][3] == rows[1][3], "re-encode must preserve phash for this fixture"
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "caption", "phash"])
    )
    # all-pairs candidates (what LSH would emit for one shared caption)
    ids = [r[0] for r in rows]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]], "id_a string, id_b string"
    )
    out = verify.verify_pairs(pairs, df, psnr_min_db=40.0, star_caption_groups_above=64)
    got = out.filter("verified").select("id_a", "id_b").collect()
    verified = {(r["id_a"], r["id_b"]) for r in got}
    assert verified, "re-encode pair must verify"
    # clustering equivalence: rec-0 and rec-1 connected via the rep
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        parent[find(a)] = find(b)
    assert find("rec-0") == find("rec-1")
    # decoys never co-cluster with the re-encodes
    assert all(find(f"dec-{i:03d}") != find("rec-0") for i in range(200))
    # decode volume is O(n): pairs entering the decode tier = members-1,
    # not n(n-1)/2 — check via the star-pair count emitted
    n_star = len([p for p in got])
    assert n_star <= len(ids)


def test_dup_pair_precision_helper(result, spark):
    """The bench's precision metric: 1.0 on the planted corpus (the
    verify stage rejects every decoy), and strictly below 1.0 on a
    deliberately over-merged assignment."""
    truth = images.truth_dup_pairs(N)
    assert pipeline.dup_pair_precision_driver_reference(result["clusters"], truth) == 1.0

    one_cluster = spark.createDataFrame(
        [(f"img-{i:09d}", "all") for i in range(N)], "image_id string, cluster_id string"
    )
    p = pipeline.dup_pair_precision_driver_reference(one_cluster, truth)
    assert 0.0 < p < 0.01, f"one-giant-cluster precision should be ~0, got {p}"

    # transitive credit: closure pairs count as correct even when not
    # planted verbatim — a-b, b-c planted; cluster {a,b,c} is perfect
    planted = {("a", "b"), ("b", "c")}
    perfect = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x")], "image_id string, cluster_id string"
    )
    assert pipeline.dup_pair_precision_driver_reference(perfect, planted) == 1.0


def test_dup_pair_recall_missing_ids_do_not_match(spark):
    """Ids absent from the clusters frame must count as misses — an
    empty assignment scoring None == None as a hit would let a broken
    pipeline pass the >= 0.99 recall gate with recall 1.0."""
    truth = {("a", "b"), ("c", "d")}
    empty = spark.createDataFrame([], "image_id string, cluster_id string")
    assert pipeline.dup_pair_recall_driver_reference(empty, truth) == 0.0
    half = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "image_id string, cluster_id string"
    )
    assert pipeline.dup_pair_recall_driver_reference(half, truth) == 0.5


def test_distributed_metrics_match_driver_reference(result, spark):
    """The join-side recall/precision (the scalable bench gate, VERDICT
    r3 item 5) must reproduce the driver dict/union-find reference
    implementations exactly — on the planted corpus, on an over-merged
    assignment, and on a half-assigned one."""
    truth_pairs = images.truth_dup_pairs(N)
    truth = images.truth_df(spark, N)
    clusters = result["clusters"]
    assert pipeline.dup_pair_recall_distributed(clusters, truth) == pipeline.dup_pair_recall_driver_reference(clusters, truth_pairs)
    assert pipeline.dup_pair_precision_distributed(clusters, truth) == pipeline.dup_pair_precision_driver_reference(clusters, truth_pairs)

    one_cluster = spark.createDataFrame(
        [(f"img-{i:09d}", "all") for i in range(N)], "image_id string, cluster_id string"
    )
    assert pipeline.dup_pair_precision_distributed(one_cluster, truth) == pipeline.dup_pair_precision_driver_reference(one_cluster, truth_pairs)
    assert pipeline.dup_pair_recall_distributed(one_cluster, truth) == pipeline.dup_pair_recall_driver_reference(one_cluster, truth_pairs) == 1.0

    # missing ids are misses in both implementations
    lbl = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t2"), ("d", "t2")],
        "image_id string, true_cluster string",
    )
    empty = spark.createDataFrame([], "image_id string, cluster_id string")
    assert pipeline.dup_pair_recall_distributed(empty, lbl) == 0.0
    half = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "image_id string, cluster_id string"
    )
    assert pipeline.dup_pair_recall_distributed(half, lbl) == 0.5

    # NULL cluster_id is a miss, exactly like the driver dict's
    # `is not None` check — two NULL-assigned truth twins must not
    # co-cluster via the NULL group
    nullc = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "x"), ("d", "x")],
        "image_id string, cluster_id string",
    )
    truth_pairs_small = {("a", "b"), ("c", "d")}
    assert (
        pipeline.dup_pair_recall_distributed(nullc, lbl)
        == pipeline.dup_pair_recall_driver_reference(nullc, truth_pairs_small)
        == 0.5
    )

    # precision: NULL-assigned rows emit NO pairs (ADVICE r4 item 1 —
    # Spark's groupBy keeps NULL as a group, so without the isNotNull
    # filter the two NULL twins above would form a phantom emitted
    # cluster). Here the only emitted pairs come from the real 'x'
    # cluster and both are correct → precision exactly 1.0 in both
    # implementations; the phantom NULL pair would have made it 0.5.
    assert (
        pipeline.dup_pair_precision_distributed(nullc, lbl)
        == pipeline.dup_pair_precision_driver_reference(nullc, truth_pairs_small)
        == 1.0
    )

    # precision: a truth cluster NAMED like a member id must not absorb
    # an untruthed row with that id (tag-namespace separation)
    lbl_idname = spark.createDataFrame(
        [("x", "img-1"), ("y", "img-1")], "image_id string, true_cluster string"
    )
    cl = spark.createDataFrame(
        [("x", "c1"), ("y", "c1"), ("img-1", "c1")],
        "image_id string, cluster_id string",
    )
    got = pipeline.dup_pair_precision_distributed(cl, lbl_idname)
    want = pipeline.dup_pair_precision_driver_reference(cl, {("x", "y")})
    assert got == want == 1 / 3


def test_flip_invariant_pipeline_clusters_mirrored_repost(spark):
    """A mirrored re-encode sharing its caption: default config rejects
    it at verification (plain PSNR sees scrambled pixels), while
    flip_invariant=True verifies via orientation-max PSNR and clusters
    the pair; unrelated rows stay apart under both configs."""
    import numpy as np

    from yadf_spark.config import NearDupConfig
    from yadf_spark.fixtures import codec

    rng = np.random.default_rng(21)
    rows = []
    for i in range(12):
        px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
        cap = f"unique caption number {i} with several words " * 3
        rows.append((f"im-{i:02d}", codec.encode_png(px), cap))
        if i == 3:
            rows.append((f"im-{i:02d}-mirror", codec.encode_png(px[:, ::-1].copy()), cap))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    df = pipeline.prepare_images(df)

    def cluster_of(out, iid):
        return {r.image_id: r.cluster_id for r in out["clusters"].collect()}[iid]

    base = pipeline.near_dup_pipeline(df, NearDupConfig())
    assert cluster_of(base, "im-03") != cluster_of(base, "im-03-mirror")

    flip = pipeline.near_dup_pipeline(df, NearDupConfig(flip_invariant=True))
    m = {r.image_id: r.cluster_id for r in flip["clusters"].collect()}
    assert m["im-03"] == m["im-03-mirror"]
    # no over-merge: every other image keeps its own cluster
    others = [v for k, v in m.items() if not k.startswith("im-03")]
    assert len(set(others)) == len(others)


def test_flip_invariant_pipeline_clusters_rotated_repost(spark):
    """A 90-rotated re-encode of a NON-SQUARE image sharing its caption:
    the rotation swaps w/h, so neither the plain phash bands nor a
    Klein-subgroup canonicalization can catch it — the full-D4 orbit
    does, and orientation-max PSNR verifies against the transposed
    views. Default config must still keep the pair apart."""
    import numpy as np

    from yadf_spark.config import NearDupConfig
    from yadf_spark.fixtures import codec

    rng = np.random.default_rng(27)
    rows = []
    for i in range(12):
        px = rng.integers(0, 256, (64, 48, 3), dtype=np.uint8)
        cap = f"distinct rotated-test caption {i} with several words " * 3
        rows.append((f"rt-{i:02d}", codec.encode_png(px), cap))
        if i == 5:
            rot90 = np.ascontiguousarray(px.transpose(1, 0, 2)[::-1, :, :])
            rows.append((f"rt-{i:02d}-rot90", codec.encode_png(rot90), cap))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    df = pipeline.prepare_images(df)

    base = pipeline.near_dup_pipeline(df, NearDupConfig())
    b = {r.image_id: r.cluster_id for r in base["clusters"].collect()}
    assert b["rt-05"] != b["rt-05-rot90"]

    flip = pipeline.near_dup_pipeline(df, NearDupConfig(flip_invariant=True))
    m = {r.image_id: r.cluster_id for r in flip["clusters"].collect()}
    assert m["rt-05"] == m["rt-05-rot90"]
    others = [v for k, v in m.items() if not k.startswith("rt-05")]
    assert len(set(others)) == len(others)


def test_star_and_trivial_branches_never_duplicate_a_pair(spark):
    """Regression: x<y<z share a viral caption, bytes(x)==bytes(y) but
    z differs, x is the subgroup rep — (x,y) used to be emitted by BOTH
    the trivial bytes-equal branch and the star decode branch. The
    output must contain each pair exactly once."""
    import numpy as np
    import pandas as pd

    from yadf_spark.fixtures import codec
    from yadf_spark.operators import verify

    rng = np.random.default_rng(33)
    caption = "duplicated star trivial caption"
    base_px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    enc = codec.encode_png(base_px)
    ph = codec.perceptual_hash(codec.decode_image(enc))
    rows = [("a-x", enc, caption, ph), ("a-y", enc, caption, ph)]
    # enough same-caption members to cross the star threshold
    for i in range(6):
        px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        e = codec.encode_png(px)
        rows.append((f"b-{i}", e, caption, codec.perceptual_hash(px)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "caption", "phash"])
    )
    ids = [r[0] for r in rows]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]], "id_a string, id_b string"
    )
    out = verify.verify_pairs(pairs, df, star_caption_groups_above=4).collect()
    keys = [(r["id_a"], r["id_b"]) for r in out]
    assert len(keys) == len(set(keys)), f"duplicate pair rows: {sorted(keys)}"
    verified = {(r["id_a"], r["id_b"]) for r in out if r["verified"]}
    assert ("a-x", "a-y") in verified  # still linked, exactly once


def test_incremental_pipeline_equals_full_batch(spark):
    """near_dup_pipeline(base_assignment=day1) over the full corpus must
    reproduce the from-scratch full-corpus clusters, and rows only the
    base knows about must carry through."""
    from pyspark.sql import functions as F

    from yadf_spark.fixtures import images

    full_df = images.images_df(spark, 120, seed=42).cache()
    day1 = full_df.filter(F.col("image_id") < "img-000000060")
    base = (
        pipeline.near_dup_pipeline(day1)["clusters"]
        .select(F.col("image_id").alias("id"), "cluster_id")
        .localCheckpoint(eager=True)
    )
    merged = pipeline.near_dup_pipeline(
        full_df, base_assignment=base, base_fingerprint="day1"
    )["clusters"]
    want = {
        (r.image_id, r.cluster_id)
        for r in pipeline.near_dup_pipeline(full_df)["clusters"].collect()
    }
    got = {(r.image_id, r.cluster_id) for r in merged.collect()}
    assert got == want
    # batch-only input: rows known only to the base carry through with
    # their day-1 labels (the cumulative-assignment contract)
    day2 = full_df.filter(F.col("image_id") >= "img-000000060")
    cumulative = pipeline.near_dup_pipeline(
        day2, base_assignment=base, base_fingerprint="day1"
    )["clusters"]
    cum = {r.image_id: r.cluster_id for r in cumulative.collect()}
    for r in base.collect():
        assert cum[r.id] == r.cluster_id
    assert set(cum) >= {r.image_id for r in day2.select("image_id").collect()}
    full_df.unpersist()


def test_gate_checkpoint_resume(spark, tmp_path):
    """The ingest gate's stages resume from their parquet checkpoints
    like the pipeline's: a second run with the same config reads both
    stage manifests and produces identical matched/novel sets."""
    from pyspark.sql import functions as F

    from yadf_spark.plans.checkpoint import Checkpointer

    df = pipeline.prepare_images(spark.createDataFrame(images.images_pdf(160)))
    num = F.substring("image_id", 5, 9).cast("int")
    batch = df.filter(num % 4 == 0)
    hist = df.filter(num % 4 != 0)

    ck1 = Checkpointer(spark=spark, workdir=str(tmp_path))
    g1 = pipeline.near_dup_gate(batch, hist, checkpointer=ck1)
    m1 = sorted(r["image_id"] for r in g1["matched_ids"].collect())
    n1 = sorted(r["image_id"] for r in g1["novel"].collect())
    assert not any(m["resumed"] for m in ck1.metrics())
    assert [m["stage"] for m in ck1.metrics()] == ["gate_candidates", "gate_verify"]

    ck2 = Checkpointer(spark=spark, workdir=str(tmp_path))
    g2 = pipeline.near_dup_gate(batch, hist, checkpointer=ck2)
    assert all(m["resumed"] for m in ck2.metrics())
    assert sorted(r["image_id"] for r in g2["matched_ids"].collect()) == m1
    assert sorted(r["image_id"] for r in g2["novel"].collect()) == n1
    assert m1 and n1  # non-vacuous split


def test_checkpoint_upstream_change_invalidates_downstream(spark, tmp_path):
    """Changing an UPSTREAM stage's config must recompute everything
    after it: with a different LSH config, candidate_pairs (whose own
    {salt, cap} config is unchanged) must NOT resume the stale parquet
    built from the old buckets — the lineage-fingerprint chain."""
    from yadf_spark.config import LshConfig, NearDupConfig
    from yadf_spark.plans.checkpoint import Checkpointer

    df = spark.createDataFrame(images.images_pdf(160))
    ck1 = Checkpointer(spark=spark, workdir=str(tmp_path))
    pipeline.near_dup_pipeline(df, checkpointer=ck1)

    cfg = NearDupConfig(lsh=LshConfig(num_perm=64, bands=16))
    ck2 = Checkpointer(spark=spark, workdir=str(tmp_path))
    pipeline.near_dup_pipeline(df, cfg=cfg, checkpointer=ck2)
    resumed = {m["stage"]: m["resumed"] for m in ck2.metrics()}
    assert resumed["exact_ladder"], "untouched upstream stage may resume"
    assert not resumed["candidate_buckets"], "changed config must recompute"
    assert not resumed["candidate_pairs"], (
        "downstream of a changed stage must recompute even when its own "
        "config is unchanged"
    )
    assert not resumed["verify"] and not resumed["connected_components"]


def test_gate_drops_same_side_pairs_and_keeps_orientation(spark):
    """Two byte-identical BATCH rows and one identical history row: the
    batch-batch pair (a real candidate via every band) must not appear
    in verified_pairs — only cross pairs, oriented id_a=batch — and
    both batch rows still gate out via the history copy."""
    import numpy as np

    from yadf_spark.fixtures import codec

    px = np.random.default_rng(21).integers(0, 256, (32, 32, 3), dtype=np.uint8).astype(np.uint8)
    enc = bytearray(codec.encode_png(px))
    batch = pipeline.prepare_images(
        spark.createDataFrame(
            [("n1a", enc, "same cap"), ("n1b", enc, "same cap")],
            "image_id string, bytes binary, caption string",
        )
    )
    hist = pipeline.prepare_images(
        spark.createDataFrame(
            [("h1", enc, "same cap")], "image_id string, bytes binary, caption string"
        )
    )
    g = pipeline.near_dup_gate(batch, hist)
    vp = g["verified_pairs"].collect()
    assert vp, "cross pairs must survive"
    assert all(r["id_a"].startswith("n") and r["id_b"] == "h1" for r in vp)
    assert sorted(r["image_id"] for r in g["matched_ids"].collect()) == ["n1a", "n1b"]
    assert g["novel"].count() == 0


def test_gate_null_payloads_share_no_byte_band(spark):
    """Fetch-failed rows (null bytes) on both sides with DIFFERENT
    captions must produce no match: the full-content-hash band skips
    null payloads (xxhash64(NULL) is a shared constant), and nothing
    else collides."""
    batch = pipeline.prepare_images(
        spark.createDataFrame(
            [("n1", None, "caption alpha words here")],
            "image_id string, bytes binary, caption string",
        )
    )
    hist = pipeline.prepare_images(
        spark.createDataFrame(
            [("h1", None, "caption beta other words"), ("h2", None, "gamma text")],
            "image_id string, bytes binary, caption string",
        )
    )
    g = pipeline.near_dup_gate(batch, hist)
    assert g["matched_ids"].count() == 0
    assert [r["image_id"] for r in g["novel"].collect()] == ["n1"]


def test_null_payload_rows_never_cluster(spark):
    """Fetch-failed rows (null bytes) with unrelated captions are not
    byte duplicates of each other: each must come out as its own
    singleton cluster, under both collapse settings."""
    from yadf_spark.config import NearDupConfig

    cols = ["image_id", "bytes", "caption", "phash"]
    nulls = spark.createDataFrame(
        [
            ("null-1", None, "a red bicycle leaning on a wall", None),
            ("null-2", None, "two dogs running across the beach", None),
            ("null-3", None, "snow on the mountain pass at dawn", None),
        ],
        "image_id string, bytes binary, caption string, phash long",
    )
    df = spark.createDataFrame(images.images_pdf(32)).select(*cols).unionByName(nulls)
    for collapse in (True, False):
        out = pipeline.near_dup_pipeline(df, cfg=NearDupConfig(collapse_exact=collapse))
        got = {r.image_id: r.cluster_id for r in out["clusters"].collect()}
        for i in ("null-1", "null-2", "null-3"):
            assert got[i] == i, f"collapse={collapse}: {i} clustered into {got[i]}"


def test_components_sees_verified_edges_only(spark, monkeypatch):
    """Stage 5 clusters over the exact-class quotient graph: a viral
    exact group adds no edges to the graph components runs on. With a
    50-copy group the graph holds no more edges than there are verified
    pairs, and exactly as many as with a 5-copy group."""
    from pyspark.sql import functions as F

    from yadf_spark.operators import components

    cols = ["image_id", "bytes", "caption", "phash"]
    base = spark.createDataFrame(images.images_pdf(64)).select(*cols).cache()
    viral = base.filter(F.col("image_id") == "img-000000002")
    seen: list[int] = []
    real_cc = components.connected_components

    def recording(edges, *args, **kwargs):
        seen.append(edges.count())
        return real_cc(edges, *args, **kwargs)

    monkeypatch.setattr(components, "connected_components", recording)
    copy_ids = F.format_string("viral-%03d", F.col("id")).alias("image_id")
    graph_edges = {}
    for copies in (5, 50):
        df = base.unionByName(
            viral.crossJoin(spark.range(copies)).select(copy_ids, *cols[1:])
        )
        seen.clear()
        out = pipeline.near_dup_pipeline(df)
        n_verified = out["verified_pairs"].filter(F.col("verified")).count()
        assert len(seen) == 1 and seen[0] <= n_verified
        graph_edges[copies] = seen[0]
        got = {r.image_id: r.cluster_id for r in out["clusters"].collect()}
        assert {got[f"viral-{i:03d}"] for i in range(copies)} == {got["img-000000002"]}
    base.unpersist()
    assert graph_edges[5] == graph_edges[50]


def test_collapse_exact_preserves_clusters(spark):
    """collapse_exact=True must produce IDENTICAL clusters to the
    uncollapsed pipeline on the planted corpus: members of a
    (byte-group, caption) class rejoin their representative through the
    ladder's exact clusters, which stage 5 starts from, and every
    candidate/verify signal is a pure function of (bytes, caption),
    identical across the class."""
    from yadf_spark.config import NearDupConfig

    df = spark.createDataFrame(images.images_pdf(256)).cache()

    def norm(out):
        by: dict[str, set[str]] = {}
        for r in out["clusters"].collect():
            by.setdefault(r["cluster_id"], set()).add(r["image_id"])
        return {frozenset(v) for v in by.values()}

    on = norm(pipeline.near_dup_pipeline(df, cfg=NearDupConfig(collapse_exact=True)))
    off = norm(pipeline.near_dup_pipeline(df, cfg=NearDupConfig(collapse_exact=False)))
    df.unpersist()
    assert on == off


def test_collapse_keeps_one_rep_per_class(spark):
    """The representative frame has exactly one row per distinct
    (ladder group_key, caption) pair — a viral exact-dup group bands
    once — and planted dup groups actually shrink the frame."""
    from pyspark.sql import functions as F

    from yadf_spark.operators import exact

    df = spark.createDataFrame(images.images_pdf(256)).cache()
    asg = exact.exact_assignments(df)
    reps = pipeline.collapse_to_representatives(df, asg)
    n_all, n_reps = df.count(), reps.count()
    n_classes = (
        asg.select(F.col("id").alias("image_id"), "group_key")
        .join(df.select("image_id", "caption"), "image_id")
        .select("group_key", "caption")
        .distinct()
        .count()
    )
    df.unpersist()
    assert n_reps == n_classes
    assert n_reps < n_all, "planted dup groups must collapse"


def test_collapse_groups_null_captions_together(spark):
    """Two byte-identical rows with NULL captions form one class (null
    groups with null in the collapse groupBy, same as the band
    builders' null handling)."""
    from yadf_spark.operators import exact

    df = spark.createDataFrame(
        [
            ("a1", b"same-payload-bytes", None),
            ("a2", b"same-payload-bytes", None),
            ("b1", b"other-payload", None),
        ],
        "image_id string, bytes binary, caption string",
    )
    reps = pipeline.collapse_to_representatives(df, exact.exact_assignments(df))
    assert sorted(r["image_id"] for r in reps.collect()) == ["a1", "b1"]


def test_collapse_bands_distinct_content_not_corpus(spark):
    """At a high exact-dup rate the band table must scale with DISTINCT
    content, not corpus size: a corpus made of 4 byte-identical copies
    of a base corpus (75% dup rate) bands essentially the base volume.
    This is the claim that matters at web scale, asserted on rows."""
    from pyspark.sql import functions as F

    from yadf_spark.config import NearDupConfig
    from yadf_spark.operators import exact

    base = spark.createDataFrame(images.images_pdf(96)).cache()
    quad = base
    for i in (1, 2, 3):
        quad = quad.unionByName(
            base.withColumn("image_id", F.concat(F.lit(f"copy{i}-"), F.col("image_id")))
        )
    quad = quad.cache()
    cfg = NearDupConfig()
    n_base = pipeline.candidate_buckets(base, cfg).count()
    reps = pipeline.collapse_to_representatives(quad, exact.exact_assignments(quad))
    n_quad_collapsed = pipeline.candidate_buckets(reps, cfg).count()
    n_quad_full = pipeline.candidate_buckets(quad, cfg).count()
    base.unpersist()
    quad.unpersist()
    assert n_quad_full >= 4 * n_base
    # the base corpus itself contains planted exact-dup groups, so the
    # collapsed 4x corpus bands STRICTLY FEWER rows than the base
    assert n_quad_collapsed <= n_base


def test_gate_history_collapse_preserves_verdicts(spark):
    """near_dup_gate with collapse_history=True (history collapsed to
    exact-class representatives by the gate's own ladder stage) must
    produce the same matched/novel split as the uncollapsed gate: gate
    verdicts are a pure function of each history row's (bytes, caption)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(images.images_pdf(96))
    # history = the corpus plus byte-identical copies (viral classes)
    hist = pipeline.prepare_images(
        base.unionByName(
            base.withColumn("image_id", F.concat(F.lit("copy-"), F.col("image_id")))
        ).withColumn("image_id", F.concat(F.lit("h-"), F.col("image_id")))
    ).cache()
    # batch = a slice straddling the history's id range: rows 64-95
    # duplicate history content, rows 96-111 are genuinely novel
    batch = pipeline.prepare_images(
        spark.createDataFrame(images.images_pdf(48, offset=64)).withColumn(
            "image_id", F.concat(F.lit("b-"), F.col("image_id"))
        )
    ).cache()

    def verdicts(**kw):
        g = pipeline.near_dup_gate(batch, hist, **kw)
        return (
            {r["image_id"] for r in g["matched_ids"].collect()},
            {r["image_id"] for r in g["novel"].select("image_id").collect()},
        )

    plain = verdicts()
    collapsed = verdicts(collapse_history=True)
    hist.unpersist()
    batch.unpersist()
    assert plain == collapsed
    matched, novel = plain
    assert matched, "planted overlap must match"
    assert novel, "planted novel rows must pass"


def test_collapse_keeps_rows_missing_from_assignments(spark):
    """Rows absent from the supplied assignments (corpus grew after the
    assignments were computed) must be kept as their own
    representatives — stale assignments mean less collapse, never
    silently dropped content."""
    from yadf_spark.operators import exact

    old = spark.createDataFrame(
        [("a1", b"payload-one", "cap"), ("a2", b"payload-one", "cap")],
        "image_id string, bytes binary, caption string",
    )
    grown = old.unionByName(
        spark.createDataFrame(
            [("z-new", b"fresh-content", "new cap")],
            "image_id string, bytes binary, caption string",
        )
    )
    reps = pipeline.collapse_to_representatives(grown, exact.exact_assignments(old))
    assert sorted(r["image_id"] for r in reps.collect()) == ["a1", "z-new"]


def test_collapse_splits_classes_on_divergent_table_phash(spark):
    """A table-supplied phash is not necessarily a pure function of
    bytes (e.g. null from an upstream decode failure): byte-identical
    rows with different phash values must stay separate representatives
    so the class's phash bands are never lost."""
    from yadf_spark.operators import exact

    df = spark.createDataFrame(
        [
            ("p1", b"same-bytes", "cap", None),
            ("p2", b"same-bytes", "cap", 12345),
            ("p3", b"same-bytes", "cap", 12345),
        ],
        "image_id string, bytes binary, caption string, phash long",
    )
    reps = pipeline.collapse_to_representatives(df, exact.exact_assignments(df))
    assert sorted(r["image_id"] for r in reps.collect()) == ["p1", "p2"]


def test_fixture_generators_reject_non_contiguous_batches(spark):
    """Both fixture generators fabricate rows from (offset, length)
    alone, so a repartitioned feed must fail loudly instead of
    silently emitting rows for the wrong ids (ADVICE r4 item 4,
    extended to images_df by the round-5 review)."""
    import pytest as _pytest

    from yadf_spark.fixtures.images import _batch_offset

    class _Ids:
        def __init__(self, vals):
            self._v = vals

        def min(self):
            return min(self._v)

        def max(self):
            return max(self._v)

        def __len__(self):
            return len(self._v)

    # contiguous (any order) passes and returns the true start
    assert _batch_offset(_Ids([3, 5, 4, 6])) == 3
    # a gap is caught even when first/last happen to look contiguous
    with _pytest.raises(ValueError, match="contiguous"):
        _batch_offset(_Ids([2, 0, 1, 5]))
