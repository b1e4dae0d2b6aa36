"""Clustering-evaluation metrics (pair confusion, Rand, ARI) — exact
hand-computed cases plus agreement with the driver-side
recall/precision reference on the planted corpus."""

from __future__ import annotations

from yadf_spark.operators import evaluation


def _one(df):
    import decimal

    rows = df.collect()
    assert len(rows) == 1
    return {
        k: (int(v) if isinstance(v, decimal.Decimal) else v)
        for k, v in rows[0].asDict().items()
    }


def test_cluster_quality_hand_computed(spark):
    """5 items, contingency {(c1,t1):2, (c2,t2):1, (c2,t3):1, (c3,t2):1}:
    tp=1, fp=1, fn=1, tn=7, RI=0.8, ARI=2(1*7-1*1)/((2)(8)+(2)(8))=0.375
    (cross-checked against the expected-index ARI form:
    (1-0.4)/(2-0.4) = 0.375)."""
    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c2"), ("d", "c2"), ("e", "c3")],
        "id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t2"), ("d", "t3"), ("e", "t2")],
        "id string, true_cluster string",
    )
    got = _one(evaluation.cluster_quality(clusters, truth))
    assert got == {
        "n_items": 5,
        "tp": 1,
        "fp": 1,
        "fn": 1,
        "tn": 7,
        "rand_index": 0.8,
        "ari": 0.375,
        # FM = tp / sqrt((tp+fp)(tp+fn)) = 1 / sqrt(2*2)
        "fowlkes_mallows": 0.5,
    }


def test_cluster_quality_perfect_and_degenerate(spark):
    clusters = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y")], "id string, cluster_id string"
    )
    same = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g2")], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality(clusters, same))
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (1, 0, 0, 2)
    assert got["rand_index"] == 1.0 and got["ari"] == 1.0
    assert got["fowlkes_mallows"] == 1.0

    # all-singletons on both sides: zero denominator -> trivial agreement
    singles = spark.createDataFrame(
        [("a", "s1"), ("b", "s2")], "id string, cluster_id string"
    )
    strue = spark.createDataFrame(
        [("a", "u1"), ("b", "u2")], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality(singles, strue))
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (0, 0, 0, 1)
    # all-singleton: zero FM denominator -> 1.0 by the module's
    # trivial-agreement convention (sklearn reports 0.0 here)
    assert got["ari"] == 1.0 and got["fowlkes_mallows"] == 1.0

    # empty intersection: all-zero counts, indices report 1.0
    other = spark.createDataFrame(
        [("zz", "u1")], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality(singles, other))
    assert got == {
        "n_items": 0,
        "tp": 0,
        "fp": 0,
        "fn": 0,
        "tn": 0,
        "rand_index": 1.0,
        "ari": 1.0,
        "fowlkes_mallows": 1.0,
    }


def test_fowlkes_mallows_is_zero_when_only_one_labeling_has_pairs(spark):
    """FM's denominator (tp+fp)(tp+fn) is zero when either labeling has no
    pairs. Only when NEITHER has pairs do they agree (1.0); a merged pair
    against singleton truth, or the reverse, is total disagreement."""
    together = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "id string, cluster_id string"
    )
    apart = spark.createDataFrame(
        [("a", "s1"), ("b", "s2")], "id string, cluster_id string"
    )
    as_truth = lambda df: df.withColumnRenamed("cluster_id", "true_cluster")  # noqa: E731
    # prediction merges a pair the truth keeps apart: tp 0, fp 1
    got = _one(evaluation.cluster_quality(together, as_truth(apart)))
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (0, 1, 0, 0)
    assert got["rand_index"] == 0.0 and got["ari"] == 0.0
    assert got["fowlkes_mallows"] == 0.0
    # prediction splits a pair the truth groups: tp 0, fn 1
    got = _one(evaluation.cluster_quality(apart, as_truth(together)))
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (0, 0, 1, 0)
    assert got["fowlkes_mallows"] == 0.0


def test_cluster_quality_excludes_null_labels(spark):
    """NULL on either side means 'unassigned', not a cluster — the
    gates' isNotNull discipline. Without the filter, two NULL-assigned
    ids would count as a co-clustered pair (a phantom mega-cluster)."""
    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("x", None), ("y", None)],
        "id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("x", "t2"), ("y", None)],
        "id string, true_cluster string",
    )
    got = _one(evaluation.cluster_quality(clusters, truth))
    # only a and b survive both filters: one true co-clustered pair
    assert got == {
        "n_items": 2, "tp": 1, "fp": 0, "fn": 0, "tn": 0,
        "rand_index": 1.0, "ari": 1.0, "fowlkes_mallows": 1.0,
    }


def test_cluster_quality_consistent_with_pair_gates(spark):
    """tp/(tp+fn) must equal the distributed recall and tp/(tp+fp) the
    distributed precision when the truth frame covers every evaluated
    id (both reduce to the same contingency arithmetic)."""
    from yadf_spark.operators import pipeline

    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        "id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t2"), ("d", "t2"), ("e", "t3")],
        "id string, true_cluster string",
    )
    got = _one(evaluation.cluster_quality(clusters, truth))
    recall = pipeline.dup_pair_recall_distributed(
        clusters.withColumnRenamed("id", "image_id"),
        truth.withColumnRenamed("id", "image_id"),
    )
    precision = pipeline.dup_pair_precision_distributed(
        clusters.withColumnRenamed("id", "image_id"),
        truth.withColumnRenamed("id", "image_id"),
    )
    assert got["tp"] / (got["tp"] + got["fn"]) == recall
    assert got["tp"] / (got["tp"] + got["fp"]) == precision


# --- property: agreement with an independent pair-counting reference --------

def _ref_quality(assign: dict[str, str], truth: dict[str, str]):
    """Pure-python pair counting over the id intersection — an
    independent implementation (no contingency cells) to property-check
    the distributed one against."""
    ids = sorted(set(assign) & set(truth))
    tp = fp = fn = tn = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            same_pred = assign[a] == assign[b]
            same_true = truth[a] == truth[b]
            tp += same_pred and same_true
            fp += same_pred and not same_true
            fn += (not same_pred) and same_true
            tn += (not same_pred) and (not same_true)
    denom = (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)
    ari = 1.0 if denom == 0 else 2.0 * (tp * tn - fn * fp) / denom
    total = tp + fp + fn + tn
    ri = 1.0 if total == 0 else (tp + tn) / total
    return len(ids), tp, fp, fn, tn, round(ri, 6), round(ari, 6)


def test_cluster_quality_matches_pair_counting_reference(spark):
    """Deterministic sweep of labelings (all pairs of partition shapes
    over 6 items, plus partial overlap) against the brute-force pair
    counter."""
    import itertools

    shapes = [
        [0, 0, 0, 1, 1, 2],
        [0, 1, 2, 3, 4, 5],
        [0, 0, 0, 0, 0, 0],
        [0, 0, 1, 1, 2, 2],
        [0, 1, 0, 1, 0, 1],
    ]
    ids = [f"i{k}" for k in range(6)]
    for pred, true in itertools.product(shapes, repeat=2):
        assign = {i: f"c{v}" for i, v in zip(ids, pred)}
        truth = {i: f"t{v}" for i, v in zip(ids, true)}
        cdf = spark.createDataFrame(
            list(assign.items()), "id string, cluster_id string"
        )
        tdf = spark.createDataFrame(
            list(truth.items()), "id string, true_cluster string"
        )
        got = _one(evaluation.cluster_quality(cdf, tdf))
        want = _ref_quality(assign, truth)
        assert (
            got["n_items"], got["tp"], got["fp"], got["fn"], got["tn"],
            got["rand_index"], got["ari"],
        ) == want, (pred, true)


def _ref_extended(rows):
    """Independent driver-side reference for the extended report:
    (id, cluster, truth) triples -> the element/entropy metrics, from
    the textbook formulas (Bagga & Baldwin B-cubed; Rosenberg &
    Hirschberg V-measure), O(n) dicts — test-scale only."""
    import math
    from collections import Counter

    cells = Counter((c, t) for _, c, t in rows)
    a, b = Counter(), Counter()
    for (c, t), k in cells.items():
        a[c] += k
        b[t] += k
    n = sum(cells.values())
    if n == 0:
        return {
            "n_items": 0, "purity": 1.0, "bcubed_precision": 1.0,
            "bcubed_recall": 1.0, "bcubed_f1": 1.0, "homogeneity": 1.0,
            "completeness": 1.0, "v_measure": 1.0,
        }
    best = Counter()
    for (c, _t), k in cells.items():
        best[c] = max(best[c], k)
    purity = sum(best.values()) / n
    prec = sum(k * k / a[c] for (c, _t), k in cells.items()) / n
    rec = sum(k * k / b[t] for (_c, t), k in cells.items()) / n
    f1 = 0.0 if prec + rec == 0 else 2 * prec * rec / (prec + rec)
    A = sum(v * math.log(v) for v in a.values())
    B = sum(v * math.log(v) for v in b.values())
    L = sum(v * math.log(v) for v in cells.values())
    ht = math.log(n) - B / n
    hc = math.log(n) - A / n
    hom = 1.0 if ht <= 0 else 1.0 - (A - L) / n / ht
    com = 1.0 if hc <= 0 else 1.0 - (B - L) / n / hc
    v = 0.0 if hom + com == 0 else 2 * hom * com / (hom + com)
    return {
        "n_items": n, "purity": purity, "bcubed_precision": prec,
        "bcubed_recall": rec, "bcubed_f1": f1, "homogeneity": hom,
        "completeness": com, "v_measure": v,
    }


def _assert_close(got, want):
    assert got["n_items"] == want["n_items"]
    for k in (
        "purity", "bcubed_precision", "bcubed_recall", "bcubed_f1",
        "homogeneity", "completeness", "v_measure",
    ):
        assert abs(got[k] - want[k]) <= 1.1e-6, (k, got[k], want[k])


def test_cluster_quality_extended_hand_computed(spark):
    """The 5-item contingency from the pair test: purity, B-cubed
    precision and recall all come out to exactly 0.8 by hand; the
    entropy metrics are checked against the reference formulas."""
    rows = [
        ("a", "c1", "t1"), ("b", "c1", "t1"), ("c", "c2", "t2"),
        ("d", "c2", "t3"), ("e", "c3", "t2"),
    ]
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "id string, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality_extended(clusters, truth))
    assert got["purity"] == got["bcubed_precision"] == got["bcubed_recall"] == 0.8
    _assert_close(got, _ref_extended(rows))
    # A = B here (symmetric marginals), so hom == com == v
    assert got["homogeneity"] == got["completeness"] == got["v_measure"]


def test_cluster_quality_extended_perfect_and_degenerate(spark):
    rows = [("a", "x", "g1"), ("b", "x", "g1"), ("c", "y", "g2")]
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "id string, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality_extended(clusters, truth))
    for k in (
        "purity", "bcubed_precision", "bcubed_recall", "bcubed_f1",
        "homogeneity", "completeness", "v_measure",
    ):
        assert got[k] == 1.0, (k, got[k])

    # single truth class: H(T)=0 -> homogeneity 1.0 by convention
    truth1 = spark.createDataFrame(
        [("a", "g"), ("b", "g"), ("c", "g")], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality_extended(clusters, truth1))
    assert got["homogeneity"] == 1.0
    _assert_close(got, _ref_extended([("a", "x", "g"), ("b", "x", "g"), ("c", "y", "g")]))

    # empty intersection
    other = spark.createDataFrame([("zz", "u")], "id string, true_cluster string")
    got = _one(evaluation.cluster_quality_extended(clusters, other))
    assert got["n_items"] == 0 and got["v_measure"] == 1.0


def test_cluster_quality_extended_excludes_null_labels(spark):
    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("x", None), ("y", None)],
        "id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("x", "t2"), ("y", None)],
        "id string, true_cluster string",
    )
    got = _one(evaluation.cluster_quality_extended(clusters, truth))
    assert got["n_items"] == 2 and got["purity"] == 1.0


def test_cluster_quality_extended_matches_reference_on_skewed_corpus(spark):
    """A viral-cluster shape (one 40-member cluster absorbing three
    truth groups + a tail of small clusters): the distributed report
    must match the textbook reference, and B-cubed precision must
    punish the mis-merge harder than purity does."""
    rows = []
    for i in range(40):  # viral cluster spanning 3 truth groups
        rows.append((f"v{i}", "big", f"t{i % 3}"))
    for g in range(10):  # clean tail
        for i in range(3):
            rows.append((f"s{g}-{i}", f"c{g}", f"u{g}"))
    clusters = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "id string, cluster_id string"
    )
    truth = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "id string, true_cluster string"
    )
    got = _one(evaluation.cluster_quality_extended(clusters, truth))
    want = _ref_extended(rows)
    _assert_close(got, want)
    assert got["bcubed_precision"] < got["purity"]


def test_cluster_quality_extended_random_labelings_match_reference(spark):
    """Seeded sweep: six random (clustering, truth) shapes — balanced,
    skewed, singleton-heavy, nested, independent, identical — must all
    match the textbook reference within rounding. Catches identity
    mistakes (e.g. swapped homogeneity/completeness) that symmetric
    hand cases cannot."""
    import numpy as np

    rng = np.random.default_rng(2026)
    shapes = [
        ("balanced", lambda i: f"c{i % 7}", lambda i: f"t{i % 5}"),
        ("skewed", lambda i: "c0" if i < 80 else f"c{i}", lambda i: f"t{i % 9}"),
        ("singletons", lambda i: f"c{i}", lambda i: f"t{i % 4}"),
        ("nested", lambda i: f"c{i % 12}", lambda i: f"t{(i % 12) // 3}"),
        (
            "random",
            lambda i, r=rng.integers(0, 6, 120): f"c{r[i]}",
            lambda i, r=rng.integers(0, 6, 120): f"t{r[i]}",
        ),
        ("identical", lambda i: f"g{i % 8}", lambda i: f"g{i % 8}"),
    ]
    for name, cf, tf in shapes:
        rows = [(f"id{i}", cf(i), tf(i)) for i in range(120)]
        cl = spark.createDataFrame(
            [(i, c) for i, c, _ in rows], "id string, cluster_id string"
        )
        tr = spark.createDataFrame(
            [(i, t) for i, _, t in rows], "id string, true_cluster string"
        )
        got = _one(evaluation.cluster_quality_extended(cl, tr))
        want = _ref_extended(rows)
        try:
            _assert_close(got, want)
        except AssertionError as e:
            raise AssertionError(f"shape {name}: {e}") from e
