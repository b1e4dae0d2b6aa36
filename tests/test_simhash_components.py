"""Connected components, verify and exact-class clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from yadf_spark.operators import components, exact


def test_connected_components_shapes(spark):
    # chain, clique, isolated pair, plus transitive merge across pairs
    edges = [
        ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),  # chain -> one component
        ("c1", "c2"), ("c1", "c3"), ("c2", "c3"),  # triangle
        ("p1", "p2"),
        ("q2", "q1"), ("q3", "q2"),  # reversed-order edges
    ]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {
        r["id"]: r["cluster_id"] for r in components.connected_components(df).collect()
    }
    assert got == {
        "n1": "n1", "n2": "n1", "n3": "n1", "n4": "n1",
        "c1": "c1", "c2": "c1", "c3": "c1",
        "p1": "p1", "p2": "p1",
        "q1": "q1", "q2": "q1", "q3": "q1",
    }


def test_connected_components_long_chain_converges(spark):
    # a 64-node path exercises the O(log n) star contraction
    edges = [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(63)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = components.connected_components(df)
    assert got.count() == 64
    assert got.select("cluster_id").distinct().collect()[0][0] == "v000"


def test_clusters_with_singletons(spark):
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("lonely",)], "image_id string"
    )
    edges = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    assign = components.connected_components(edges)
    full = {
        r["image_id"]: r["cluster_id"]
        for r in components.clusters_with_singletons(nodes, assign).collect()
    }
    assert full == {"a": "a", "b": "a", "c": "c", "lonely": "lonely"}


def test_verify_pairs_psnr_and_caption(spark):
    import numpy as np

    from yadf_spark.fixtures import codec
    from yadf_spark.operators import verify

    px = np.random.default_rng(5).integers(0, 256, (32, 32, 3), dtype=np.uint8)
    other = np.random.default_rng(6).integers(0, 256, (32, 32, 3), dtype=np.uint8)
    rows = [
        ("orig", bytearray(codec.encode_png(px)), "cap one"),
        ("lossy", bytearray(codec.encode_jpeg(px, 2)), "cap one"),  # verified near-dup
        ("exact", bytearray(codec.encode_png(px)), "cap one"),  # verified exact
        ("badcap", bytearray(codec.encode_png(px)), "cap two"),  # caption mismatch
        ("diffpx", bytearray(codec.encode_png(other)), "cap one"),  # pixel mismatch
    ]
    images = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    pairs = spark.createDataFrame(
        [("lossy", "orig"), ("exact", "orig"), ("badcap", "orig"), ("diffpx", "orig")],
        "id_a string, id_b string",
    )
    out = {r["id_a"]: r for r in verify.verify_pairs(pairs, images).collect()}
    assert out["exact"]["verified"] and out["exact"]["psnr_db"] == 1e9
    assert out["lossy"]["verified"] and 40 <= out["lossy"]["psnr_db"] < 100
    assert not out["badcap"]["verified"]  # caption gate
    assert not out["diffpx"]["verified"] and out["diffpx"]["psnr_db"] < 40


def test_connected_components_distributed_path_matches_driver_path(spark):
    """Force the star-contraction path (driver_threshold=0) and check it
    produces the same assignment as the union-find shortcut."""
    import random

    import pandas as pd

    rng = random.Random(7)
    # mixed topology at a size where the driver path is plausibly used
    # in production: random noise + long chains + a dense hub
    edges = [
        (f"n{rng.randrange(3000):05d}", f"n{rng.randrange(3000):05d}") for _ in range(4_000)
    ]
    edges += [(f"c{i:05d}", f"c{i + 1:05d}") for i in range(1_500)]  # one long chain
    edges += [("hub", f"n{rng.randrange(3000):05d}") for _ in range(800)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"])
    )
    fast = {
        (r["id"], r["cluster_id"])
        for r in components.connected_components(df).collect()
    }
    dist = {
        (r["id"], r["cluster_id"])
        for r in components.connected_components(df, driver_threshold=0).collect()
    }
    assert fast == dist


def test_merge_assignments_equals_full_cc_on_random_splits(spark):
    """Property gate: merge_assignments(cc(E1), E2) == cc(E1 UNION E2)
    for arbitrary edge splits — including splits that merge old
    clusters, extend them with new nodes, and leave clusters untouched."""
    import numpy as np

    rng = np.random.default_rng(13)
    for trial in range(4):
        n_nodes, n_edges = 40, 35
        edges = {
            tuple(sorted(rng.integers(0, n_nodes, 2).tolist()))
            for _ in range(n_edges)
        }
        edges = [(a, b) for a, b in edges if a != b]
        cut = int(rng.integers(0, len(edges) + 1))
        e1, e2 = edges[:cut], edges[cut:]
        full = spark.createDataFrame(edges, "id_a long, id_b long")
        want = {
            (r.id, r.cluster_id)
            for r in components.connected_components(full).collect()
        }
        if not e2:
            e2 = [edges[0]]  # replayed edge: merge must be a no-op
        assign = components.connected_components(
            spark.createDataFrame(e1, "id_a long, id_b long")
        ) if e1 else spark.createDataFrame([], "id long, cluster_id long")
        merged = components.merge_assignments(
            assign, spark.createDataFrame(e2, "id_a long, id_b long")
        )
        got = {(r.id, r.cluster_id) for r in merged.collect()}
        # nodes whose only edges were replayed intra-cluster stay put;
        # compare on the union of edge-bearing nodes from the full run
        assert got == want, f"trial {trial}: cut {cut}: {got ^ want}"


def test_merge_assignments_planted_semantics(spark):
    # old: {1,2,3} labeled 1, {10,11} labeled 10
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster_id long"
    )
    # batch: bridge 3-10 (merges both clusters), attach new node 99 to 11,
    # and a brand-new pair 50-51
    new_edges = spark.createDataFrame(
        [(3, 10), (99, 11), (50, 51)], "id_a long, id_b long"
    )
    got = {
        (r.id, r.cluster_id)
        for r in components.merge_assignments(assign, new_edges).collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (10, 1), (11, 1), (99, 1), (50, 50), (51, 50)}
    assert got == want


def test_exact_clusters_merge_equals_cc_over_exact_star_edges(spark):
    """The pipeline's stage 5 clusters over the exact-class quotient
    graph — merge_assignments(exact_clusters, verified) — and must equal
    connected_components(verified UNION exact_edges) on both the driver
    and the distributed path. Random exact groups (singletons
    included) meet random verified edges that touch group members other
    than the group min, ids outside every group, and each other."""
    import numpy as np

    from yadf_spark.operators import pipeline

    def cc_pairs(df):
        return {(r.id, r.cluster_id) for r in df.collect()}

    def check(assignments, verified):
        want = cc_pairs(
            components.connected_components(
                verified.unionByName(pipeline.exact_edges(assignments))
            )
        )
        clusters = pipeline.exact_clusters(assignments)
        for threshold in (100_000, 0):
            got = cc_pairs(
                components.merge_assignments(clusters, verified, driver_threshold=threshold)
            )
            assert got == want, f"driver_threshold={threshold}: {got ^ want}"

    rng = np.random.default_rng(29)
    for _ in range(3):
        ids = [f"n{i:03d}" for i in range(60)]
        keys = rng.integers(0, 30, len(ids))
        assignments = spark.createDataFrame(
            [(i, f"g{k}") for i, k in zip(ids, keys)], "id string, group_key string"
        )
        pool = ids + [f"x{i}" for i in range(5)]
        edges = {tuple(sorted(rng.choice(pool, 2, replace=False).tolist())) for _ in range(20)}
        check(assignments, spark.createDataFrame(sorted(edges), "id_a string, id_b string"))

    # through the real ladder: a2 shares a1's bytes but not its caption,
    # so a2 represents its own collapse class without being its exact
    # group's min id; the verified edge reaches the group only via a2
    images = spark.createDataFrame(
        [
            ("a1", bytearray(b"shared-bytes"), "first caption"),
            ("a2", bytearray(b"shared-bytes"), "second caption"),
            ("a3", bytearray(b"shared-bytes"), "second caption"),
            ("b1", bytearray(b"other-bytes!"), "second caption"),
            ("c1", bytearray(b"lone"), "third caption"),
        ],
        "image_id string, bytes binary, caption string",
    )
    assignments = exact.exact_assignments(images)
    reps = {r.image_id for r in pipeline.collapse_to_representatives(images, assignments).collect()}
    assert reps == {"a1", "a2", "b1", "c1"}
    check(assignments, spark.createDataFrame([("a2", "b1")], "id_a string, id_b string"))


def test_verify_pairs_null_payloads_never_verify(spark):
    """xxhash64 leaves its seed untouched for NULL input, so two
    fetch-failed rows (null bytes, equal captions) would hash-compare
    byte-identical without the null guard; they must route to the
    decode tier and come back unverified — the G7 degrade posture."""
    import numpy as np

    from yadf_spark.fixtures import codec
    from yadf_spark.operators import verify

    px = np.random.default_rng(5).integers(0, 256, (32, 32, 3), dtype=np.uint8)
    rows = [
        ("null1", None, "same caption"),
        ("null2", None, "same caption"),
        ("real", bytearray(codec.encode_png(px)), "same caption"),
    ]
    images = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    pairs = spark.createDataFrame(
        [("null1", "null2"), ("null1", "real")], "id_a string, id_b string"
    )
    out = {(r["id_a"], r["id_b"]): r for r in verify.verify_pairs(pairs, images).collect()}
    assert not out[("null1", "null2")]["verified"]
    assert out[("null1", "null2")]["psnr_db"] == -1.0
    assert not out[("null1", "real")]["verified"]
