"""Distributed clustering-evaluation metrics — pair-confusion counts
and (Adjusted) Rand Index between a predicted cluster assignment and a
ground-truth labeling.

The reference ships a planted-truth corpus generator and checks its
dup groups against the plan (gen-corpus.py manifest; scripts/bench.sh
correctness gate); this module is that evaluation made first-class and
distributed: at 10^12 rows a pair LIST is quadratic in cluster size
and a driver-side dict is O(corpus), but the full confusion table is
derivable from the (cluster, truth) CONTINGENCY CELLS — one narrow
count aggregation, O(distinct label pairs) rows, three scalar-sized
frames to combine.

Arithmetic discipline: every pair count is summed DOUBLED
(``k·(k-1)``, never halved in-plan) as ``decimal(38,0)`` — ``k·(k-1)``
wraps a long at k ≈ 3.04e9 and double summation loses exactness above
2^53 — and halved exactly at the end. The Rand/ARI ratios are
scale-invariant in the doubled counts, so floating point enters only
in the final division, with an expression shape a relational oracle
replays bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _pairs2_sum(col: str):
    """Σ k·(k-1) — TWICE the Σ C(k,2) pair count, exact in decimal."""
    c = F.col(col).cast(_DEC)
    return F.coalesce(F.sum(c * (c - F.lit(1))), F.lit(0).cast(_DEC))


def cluster_quality(
    clusters: DataFrame,
    truth_labels: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    truth_col: str = "true_cluster",
    round_to: int = 6,
) -> DataFrame:
    """ONE-row clustering quality report —
    ``(n_items, tp, fp, fn, tn, rand_index, ari)``:

    * evaluated over the INNER join of the two frames (items labeled by
      both sides; one row per id expected in each). Like every
      common-items clustering index, it says nothing about ids one side
      DROPPED — coverage is the recall gate's job
      (``pipeline.dup_pair_recall_distributed`` counts a dropped
      truth-pair member as a miss; this report never sees it),
    * rows whose label is NULL on either side are excluded — the
      gates' ``isNotNull`` discipline; a NULL label is "unassigned",
      not a cluster, and grouping NULLs would weld every unassigned id
      into one phantom mega-cluster,
    * ``tp`` pairs together in both labelings, ``fp`` together only in
      the prediction, ``fn`` together only in the truth, ``tn`` apart
      in both — exact integers, emitted as ``decimal(38,0)``: ``tn``
      is ~n²/2, past long range (and ANSI-mode CAST_OVERFLOW) above
      ~4.3e9 evaluated items,
    * ``rand_index`` = (tp+tn)/all-pairs, ``ari`` the
      Hubert-Arabie adjusted form via the pair-confusion identity
      ``2·(tp·tn − fn·fp) / ((tp+fp)(fp+tn) + (tp+fn)(fn+tn))``, and
      ``fowlkes_mallows`` = tp/√((tp+fp)(tp+fn)) (the geometric mean
      of pair precision and pair recall, Fowlkes & Mallows 1983) — all
      computed from the doubled counts (the ratios are
      scale-invariant). Zero RI/ARI denominators are reported as 1.0
      (both labelings trivially agree — the module's convention). FM's
      denominator is zero whenever one labeling has no pairs: FM is 1.0
      when neither has any (sklearn reports 0.0 there) and 0.0 when
      only one has (tp = 0 with fp > 0 or fn > 0: total disagreement
      on the pairs).

    Scale shape: one (cluster, truth) cell aggregation over the joined
    frame (narrow rows, O(cells) state), then per-side marginals read
    the CELLS, never the corpus; three single-row aggregates cross-join
    into the report. Nothing O(n) reaches the driver."""
    both = (
        clusters.filter(F.col(cluster_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c"))
        .join(
            truth_labels.filter(F.col(truth_col).isNotNull()).select(
                F.col(id_col).alias("_id"), F.col(truth_col).alias("_t")
            ),
            "_id",
        )
    )
    cells = both.groupBy("_c", "_t").agg(F.count("*").alias("n"))
    base = cells.agg(
        _pairs2_sum("n").alias("tp2"),
        F.coalesce(F.sum("n").cast(_DEC), F.lit(0).cast(_DEC)).alias("n_items"),
    )
    pred = cells.groupBy("_c").agg(F.sum("n").alias("na")).agg(
        _pairs2_sum("na").alias("pred2")
    )
    true = cells.groupBy("_t").agg(F.sum("n").alias("nb")).agg(
        _pairs2_sum("nb").alias("true2")
    )
    j = base.crossJoin(pred).crossJoin(true)
    n = F.col("n_items")
    total2 = n * (n - F.lit(1))
    fp2 = F.col("pred2") - F.col("tp2")
    fn2 = F.col("true2") - F.col("tp2")
    tn2 = total2 - F.col("pred2") - F.col("true2") + F.col("tp2")
    tp_d = F.col("tp2").cast("double")
    fp_d, fn_d, tn_d = fp2.cast("double"), fn2.cast("double"), tn2.cast("double")
    denom = (tp_d + fp_d) * (fp_d + tn_d) + (tp_d + fn_d) * (fn_d + tn_d)
    ari = F.when(denom == F.lit(0.0), F.lit(1.0)).otherwise(
        F.lit(2.0) * (tp_d * tn_d - fn_d * fp_d) / denom
    )
    ri = F.when(total2.cast("double") == F.lit(0.0), F.lit(1.0)).otherwise(
        (tp_d + tn_d) / total2.cast("double")
    )
    fm_denom = (tp_d + fp_d) * (tp_d + fn_d)
    # a zero denominator means one labeling has no pairs: they agree
    # trivially only when the other has none either
    fm = F.when(
        fm_denom == F.lit(0.0),
        F.when(tp_d + fp_d + fn_d == F.lit(0.0), F.lit(1.0)).otherwise(F.lit(0.0)),
    ).otherwise(tp_d / F.sqrt(fm_denom))
    # counts stay decimal(38,0): tn ~ n²/2 exceeds long (and would
    # CAST_OVERFLOW under ANSI mode) above ~4.3e9 evaluated items; the
    # doubled values are even, so the /2 floor is exact
    half = lambda c: F.floor(c / F.lit(2)).cast(_DEC)  # noqa: E731
    return j.select(
        n.cast("long").alias("n_items"),
        half(F.col("tp2")).alias("tp"),
        half(fp2).alias("fp"),
        half(fn2).alias("fn"),
        half(tn2).alias("tn"),
        F.round(ri, round_to).alias("rand_index"),
        F.round(ari, round_to).alias("ari"),
        F.round(fm, round_to).alias("fowlkes_mallows"),
    )


def cluster_quality_extended(
    clusters: DataFrame,
    truth_labels: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    truth_col: str = "true_cluster",
    round_to: int = 6,
) -> DataFrame:
    """ONE-row element/entropy clustering report — the complement of
    :func:`cluster_quality`'s pair view: ``(n_items, purity,
    bcubed_precision, bcubed_recall, bcubed_f1, homogeneity,
    completeness, v_measure)``.

    * **purity** = (Σ per-cluster max truth-cell) / n — the "is each
      cluster mostly one thing" dashboard number; numerator summed
      EXACTLY as decimal, float enters in the one final division,
    * **B-cubed** (Bagga & Baldwin 1998) precision / recall / F1 —
      per-item averages, size-weighted so a 10M-copy viral cluster
      can't hide a mis-merge the pair indices amortize away:
      precision = (1/n)·Σ_cells n_ct²/a_c, recall with b_t,
    * **homogeneity / completeness / V-measure** (Rosenberg &
      Hirschberg 2007) via the entropy identities — every conditional
      entropy reduces to three log-moment sums over the cells and
      marginals: A = Σ a_c·ln a_c, B = Σ b_t·ln b_t,
      L = Σ n_ct·ln n_ct, then H(T|C) = (A−L)/n, H(C|T) = (B−L)/n,
      H(C) = ln n − A/n, H(T) = ln n − B/n. Degenerate zero entropies
      score 1.0 (sklearn's convention).

    Same frame contract and NULL discipline as :func:`cluster_quality`
    (inner join on ids labeled by both sides, NULL labels excluded).
    Scale shape: one (cluster, truth) cell aggregation, marginals
    joined back to the CELLS (never the corpus), one aggregate row per
    side, a cross-join of 1-row frames. The per-cell ratio/log terms
    accumulate as doubles — unlike the pair counts they have no exact
    integer form — with ~1e-16·cells relative error, far below the
    ``round_to`` reporting precision; n and the purity numerator stay
    exact decimal."""
    both = (
        clusters.filter(F.col(cluster_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c"))
        .join(
            truth_labels.filter(F.col(truth_col).isNotNull()).select(
                F.col(id_col).alias("_id"), F.col(truth_col).alias("_t")
            ),
            "_id",
        )
    )
    cells = both.groupBy("_c", "_t").agg(F.count("*").alias("n"))
    a = cells.groupBy("_c").agg(F.sum("n").alias("a"))
    b = cells.groupBy("_t").agg(F.sum("n").alias("b"))
    nd = F.col("n").cast("double")
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    main = (
        cells.join(a, "_c")
        .join(b, "_t")
        .agg(
            F.coalesce(F.sum(F.col("n").cast(_DEC)), F.lit(0).cast(_DEC)).alias(
                "n_items"
            ),
            F.coalesce(F.sum(nd * nd / ad), F.lit(0.0)).alias("prec_sum"),
            F.coalesce(F.sum(nd * nd / bd), F.lit(0.0)).alias("rec_sum"),
            F.coalesce(F.sum(nd * F.log(nd)), F.lit(0.0)).alias("l_sum"),
            # Σ_t n_ct·ln a_c = a_c·ln a_c per cluster, but summing the
            # cell-local form avoids a second scan of the marginals
            F.coalesce(F.sum(nd * F.log(ad)), F.lit(0.0)).alias("a_sum"),
            F.coalesce(F.sum(nd * F.log(bd)), F.lit(0.0)).alias("b_sum"),
        )
    )
    pur = cells.groupBy("_c").agg(F.max("n").alias("m")).agg(
        F.coalesce(F.sum(F.col("m").cast(_DEC)), F.lit(0).cast(_DEC)).alias(
            "pur_num"
        )
    )
    j = main.crossJoin(pur)
    n = F.col("n_items").cast("double")
    prec = F.when(n == 0.0, F.lit(1.0)).otherwise(F.col("prec_sum") / n)
    rec = F.when(n == 0.0, F.lit(1.0)).otherwise(F.col("rec_sum") / n)
    f1 = F.when(prec + rec == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * prec * rec / (prec + rec)
    )
    purity = F.when(n == 0.0, F.lit(1.0)).otherwise(
        F.col("pur_num").cast("double") / n
    )
    h_t_given_c = (F.col("a_sum") - F.col("l_sum")) / n
    h_c_given_t = (F.col("b_sum") - F.col("l_sum")) / n
    h_c = F.log(n) - F.col("a_sum") / n
    h_t = F.log(n) - F.col("b_sum") / n
    hom = F.when((n == 0.0) | (h_t <= 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - h_t_given_c / h_t
    )
    com = F.when((n == 0.0) | (h_c <= 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - h_c_given_t / h_c
    )
    v = F.when(hom + com == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * hom * com / (hom + com)
    )
    return j.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.round(purity, round_to).alias("purity"),
        F.round(prec, round_to).alias("bcubed_precision"),
        F.round(rec, round_to).alias("bcubed_recall"),
        F.round(f1, round_to).alias("bcubed_f1"),
        F.round(hom, round_to).alias("homogeneity"),
        F.round(com, round_to).alias("completeness"),
        F.round(v, round_to).alias("v_measure"),
    )


def cluster_quality_report(
    clusters: DataFrame,
    truth_labels: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    truth_col: str = "true_cluster",
    round_to: int = 6,
) -> DataFrame:
    """Both views — :func:`cluster_quality`'s pair confusion and
    :func:`cluster_quality_extended`'s element/entropy metrics — as ONE
    single-row frame, for callers that want the whole report (CLI
    ``--mode cluster-quality``, the bench gate).

    Collected in one action, the combined physical plan contains the
    identical id-join + (cluster, truth) cell-aggregation subplan on
    every branch, so Catalyst's exchange reuse computes the only
    corpus-sized stage ONCE (ReusedExchange — pinned by the plan
    suite); two separate collects would run it twice."""
    pair = cluster_quality(
        clusters, truth_labels, id_col, cluster_col, truth_col, round_to
    )
    ext = cluster_quality_extended(
        clusters, truth_labels, id_col, cluster_col, truth_col, round_to
    )
    return pair.crossJoin(ext.drop("n_items"))
