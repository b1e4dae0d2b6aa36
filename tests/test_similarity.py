"""Dense cosine top-k (``retrieval.brute_force_topk``, the dense tier of
hybrid retrieval) on planted vectors."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from yadf_spark.operators import retrieval

DIM = 16


def _vecs(spark, n=60, n_clusters=6, seed=3):
    """Clustered vectors: members of a cluster are tiny perturbations of
    the centroid -> cosine ~1 within, ~random across."""
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_clusters, DIM))
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = cents[c] + 0.01 * rng.standard_normal(DIM)
        rows.append((i, [float(x) for x in v.astype(np.float32)], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"), rows


def test_brute_force_topk_finds_cluster_members(spark):
    df, rows = _vecs(spark)
    queries = df.filter(F.col("vec_id") < 6)
    out = retrieval.brute_force_topk(df, queries, k=5)
    res = {}
    for r in out.collect():
        res.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    labels = {i: c for i, _, c in rows}
    for q, neighbors in res.items():
        assert len(neighbors) == 5
        for _, nid, cos in neighbors:
            assert labels[nid] == labels[q], "top-5 must be same-cluster"
            assert cos > 0.99
        ranks = sorted(r for r, _, _ in neighbors)
        assert ranks == [1, 2, 3, 4, 5]


def test_cosine_zero_vector_safe(spark):
    df = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, [1.0] * DIM)], "vec_id long, embedding array<float>"
    )
    out = retrieval.brute_force_topk(df, df.filter("vec_id = 0"), k=1).collect()
    assert out[0]["cosine"] == 0.0


def test_topk_plan_broadcasts_queries(spark):
    df, _ = _vecs(spark)
    out = retrieval.brute_force_topk(df, df.limit(3), k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
