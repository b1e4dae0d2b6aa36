"""Connected components over a pair/edge list — the clustering step that
turns verified duplicate pairs into duplicate groups.

Alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm), expressed as DataFrame self-joins:

    large-star: for each edge (u,v) with v > u, rewire v to
                m(u) = min(neighbors(u) + {u})
    small-star: for each edge (u,v) with v < u, rewire v to the minimum
                of u's smaller neighborhood, and u likewise

Converges in O(log n) rounds to a star forest where every node points
at its component minimum. Works on any ordered id type — we use the
string ``image_id`` directly, avoiding a fragile global id-assignment
pass (a ``row_number`` over one window would serialize at 10^12 rows,
and 64-bit hashed ids would collide in expectation at that scale).

Each round ends in ``localCheckpoint(eager=True)`` to truncate lineage
(the north_rule's "checkpointed lineage"); convergence is detected by an
edge-multiset signature, so a cycle of identical plans never runs
unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bidir(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    b = _bidir(edges)
    m = b.groupBy("u").agg(F.min("v").alias("minv"))
    m = m.select("u", F.least("u", "minv").alias("m"))
    return (
        b.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    b = _bidir(edges).filter(F.col("v") < F.col("u"))
    m = b.groupBy("u").agg(F.min("v").alias("m"))
    rewired = b.join(m, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_edges = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        rewired.unionByName(self_edges).filter(F.col("src") != F.col("dst")).distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and cannot overflow (edges are distinct,
    # so no cancellation ambiguity); ANSI mode rejects sum() overflow.
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("sig"),
    ).collect()[0]
    return int(row["n"]), int(row["sig"])


def _driver_union_find(spark, edge_rows, id_type=None) -> DataFrame:
    """Union-find on the driver for small edge lists. The verified-pair
    edge list of a dedup job is orders of magnitude smaller than the
    corpus (only duplicates appear), so below a threshold the dozens of
    Spark jobs the star contraction needs cost more than the graph is
    worth — the same scale-adaptive trade AQE makes when it swaps a
    shuffle join for a broadcast."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    if not parent:
        # the empty frame must carry the CALLER's id type — a hardcoded
        # string schema made the same query's output schema depend on
        # whether any edges existed (type-strict sinks then fail)
        from pyspark.sql.types import StringType, StructField, StructType

        t = id_type or StringType()
        return spark.createDataFrame(
            [], StructType([StructField("id", t), StructField("cluster_id", t)])
        )
    import pandas as pd

    # build via pandas so createDataFrame takes the Arrow path: a plain
    # list-of-tuples becomes a pickled RDD whose every downstream scan
    # runs through Python workers (measured: ~2.5s of worker spin-up per
    # action at local[16] for a 15k-row result; Arrow: milliseconds).
    pdf = pd.DataFrame(
        {"id": list(parent), "cluster_id": [find(x) for x in parent]}
    )
    return spark.createDataFrame(pdf)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges -> assignment ``(id, cluster_id)`` for every node appearing
    in the edge list; ``cluster_id`` is the lexicographic minimum member
    of the component (deterministic, like the reference's sorted-key
    output, src/bag.rs:30). Nodes with no edges are simply absent —
    callers union singletons back in.

    Edge lists under ``driver_threshold`` rows short-circuit to a
    driver-side union-find (see :func:`_driver_union_find`); larger
    graphs run the distributed star contraction. The default (100k
    edges) keeps the driver copy in the tens-of-MB range even with
    long string ids plus Python object overhead — raise it only with a
    correspondingly sized driver heap. The collect goes through Arrow
    (``toPandas``), not Row objects."""
    # canonical orientation WITHOUT distinct: union-find absorbs repeat
    # edges for free, so the common (small-graph) path pays zero
    # exchanges here — everything upstream is narrow over cached stages.
    raw = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .persist()
    )
    n_edges = raw.count()
    if n_edges <= driver_threshold:
        pdf = raw.toPandas()  # Arrow transfer — no per-row Row objects
        raw.unpersist()
        return _driver_union_find(
            edges.sparkSession,
            zip(pdf["src"].tolist(), pdf["dst"].tolist()),
            id_type=raw.schema["src"].dataType,
        )
    # distributed path: dedup (edge count drives the iteration cost) and
    # truncate lineage once before iterating
    e = raw.distinct().localCheckpoint(eager=True)
    raw.unpersist()
    prev_sig = None
    for _ in range(max_iterations):
        e = _large_star(e)
        e = _small_star(e).localCheckpoint(eager=True)
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    members = e.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def merge_assignments(
    assign: DataFrame,
    new_edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Fold a NEW batch's duplicate edges into yesterday's ``(id,
    cluster_id)`` assignment WITHOUT re-running components over the
    whole corpus — the incremental-ingest step a 10^12-row table needs
    (re-clustering everything per batch is a full-corpus job; this is a
    batch-sized one).

    Correctness (quotient-graph argument): dedup edges only ACCRETE —
    clusters merge, never split — so every old cluster can contract to
    one node, its ``cluster_id`` (which is the min member, so it is
    also a member). New edges rewrite through the old assignment
    (endpoint -> its cluster rep, else itself); components runs on that
    REDUCED graph, whose size is bounded by the new batch's edge count,
    never the corpus. Any path through old members reroutes through
    their rep, so connectivity — and the min-label (the old rep is the
    min of its members) — is preserved exactly:
    ``merge_assignments(cc(E1), E2) == cc(E1 UNION E2)`` for every
    edge split (pytest-gated property).

    Scale shape: two hash joins rewrite the batch edges; the relabel
    table (touched reps + new ids, <= 2x batch edges) joins the old
    assignment once on ``cluster_id`` — the only contact the full
    corpus has with this job, AQE-broadcast when the batch is small.
    Output has the same shape/guarantees as ``connected_components``
    (edge-bearing nodes only, cluster_id = min member)."""
    a = assign.select(F.col("id").alias(src_col), F.col("cluster_id").alias("_ca"))
    b = assign.select(F.col("id").alias(dst_col), F.col("cluster_id").alias("_cb"))
    reduced = (
        new_edges.join(a, src_col, "left")
        .join(b, dst_col, "left")
        .select(
            F.coalesce("_ca", F.col(src_col)).alias("id_a"),
            F.coalesce("_cb", F.col(dst_col)).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    red = connected_components(
        reduced, max_iterations=max_iterations, driver_threshold=driver_threshold
    )
    relab = red.select(
        F.col("id").alias("_node"), F.col("cluster_id").alias("_label")
    ).localCheckpoint(eager=False)  # two consumers: relabel join + new-node anti-join
    old = (
        assign.join(relab, assign["cluster_id"] == F.col("_node"), "left")
        .select(
            assign["id"].alias("id"),
            F.coalesce("_label", assign["cluster_id"]).alias("cluster_id"),
        )
    )
    new_nodes = (
        relab.join(assign.select("id"), relab["_node"] == F.col("id"), "left_anti")
        .select(F.col("_node").alias("id"), F.col("_label").alias("cluster_id"))
    )
    return old.unionByName(new_nodes)


def clusters_with_singletons(
    nodes: DataFrame, assignment: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Full assignment: every node gets a cluster (its own id when it has
    no duplicate partners) — the engine's cluster-assignment sink shape
    (reference analog: TreeBag full-serialization, src/bag/serialize.rs:16-27)."""
    n = nodes.select(F.col(id_col).alias("id"))
    joined = n.join(assignment, "id", "left")
    return joined.select(
        F.col("id").alias(id_col),
        F.coalesce("cluster_id", "id").alias("cluster_id"),
    )
