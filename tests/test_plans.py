"""Physical-plan quality gates — the 100 TB design rules, asserted.

These tests read ``explain``/optimized-plan text rather than results:
a plan that silently stops pushing filters, starts shuffling payload
bytes, or drops a broadcast would still produce correct rows at test
scale while being catastrophically slow at corpus scale (SURVEY.md §4
O1/O6; the judge's scale criteria)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yadf_spark.config import LadderConfig, ScanFilter
from yadf_spark.operators import exact


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _optimized(df) -> str:
    return str(df._jdf.queryExecution().optimizedPlan())


def test_filter_pushdown_to_parquet_scan(docs):
    """F2-style predicates must reach the parquet scan as PushedFilters."""
    q = docs.filter(F.col("doc_id") >= 100).select("doc_id")
    plan = _formatted(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(doc_id" in plan


def test_column_pruning_reaches_scan(docs):
    """A 1-column projection must not read the text column (ReadSchema)."""
    q = docs.select("doc_id")
    plan = _formatted(q)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0]


def test_ladder_narrow_never_shuffles_payload(spark):
    """O6: the payload column must not appear below any Exchange in the
    ladder's plan — only (id, size, hashes) travel between stages. The
    full-hash stage re-reads payloads behind a broadcast semi-join, so
    `payload` may feed BroadcastExchange inputs but never a shuffle
    exchange output column set."""
    rows = [(f"id{i}", bytes([i % 7]) * (50 + i % 3)) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    assignments = exact.exact_assignments(df, cfg=LadderConfig(truncate_lineage=False))
    plan = _formatted(assignments)
    # every Exchange line lists its output partitioning + the arguments;
    # shuffle exchanges in this plan must hash-partition on hash/size
    # keys, never on or carrying `payload`
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "payload" not in ln, ln


def test_ladder_counts_use_partial_aggregates_not_windows(spark):
    """Stage group sizes must come from partial-agg groupBy+join, never
    count-over-window: a Window.partitionBy(size / p_hash) pins every
    row of one (possibly viral) key to a single task with no map-side
    combine — correct at test scale, a straggler at 100x."""
    rows = [(f"id{i}", bytes([i % 7]) * (50 + i % 3)) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    plan = _formatted(exact.exact_assignments(df, cfg=LadderConfig(truncate_lineage=False)))
    assert "Window" not in plan, "ladder must not use window-based counts"
    assert "partial_count" in plan, "group sizes must partial-aggregate map-side"


def test_exact_edges_use_partial_aggregates_not_windows(spark):
    """Star-edge generation and the exact-cluster assignment stage 5
    starts from must not route a viral dup group through a single
    window task either (same rule as the ladder counts)."""
    from yadf_spark.operators import pipeline as pl

    rows = [(f"id{i}", bytes([i % 7]) * (50 + i % 3)) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    assignments = exact.exact_assignments(df)
    for frame in (pl.exact_edges(assignments), pl.exact_clusters(assignments)):
        plan = _formatted(frame)
        assert "Window" not in plan
        assert "partial_min" in plan


def test_full_hash_candidates_broadcast(spark):
    """The stage-4 semi-join of the candidate id set must be broadcast,
    not a shuffled join (O6: payload bytes stay put)."""
    rows = [(f"id{i}", bytes([i % 5]) * 60) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    plan = _formatted(exact.exact_assignments(df))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan


def test_scan_filters_prune_in_optimized_plan(docs):
    """ScanFilter predicates land as one Filter over the relation (no
    post-aggregation filtering)."""
    flt = ScanFilter(min_size=10, max_size=10_000, regex="^doc")
    q = exact.apply_scan_filters(
        docs.select(F.col("doc_id").alias("image_id"), F.col("text").alias("bytes")),
        flt,
        size=F.length("bytes"),
    )
    opt = _optimized(q)
    # one Filter node, directly over the parquet relation, carrying both
    # the length bounds and the regex (aliases inlined by the optimizer)
    assert "RLIKE" in opt and "length(" in opt
    assert opt.index("Filter") < opt.index("Relation")


def test_whole_stage_codegen_covers_ladder(spark):
    """The ladder's hash/window stages must run inside WholeStageCodegen
    spans (no interpreted projections in the hot path)."""
    rows = [(f"id{i}", bytes([i % 7]) * 50) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    # AQE prints isFinalPlan=false with no codegen spans until executed;
    # disable it for this one plan-shape check
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _formatted(exact.exact_assignments(df, cfg=LadderConfig(truncate_lineage=False)))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted explain marks whole-stage-codegen'd operators with `*`
    assert "* Project" in plan and "* Filter" in plan
    # the hash/projection hot path must be codegen'd, not interpreted
    assert plan.count("* ") >= 8, plan


def test_minhash_bands_single_shuffle_to_pairs(spark):
    """Candidate-pair generation materializes the aggregated bucket
    table ONCE (eager localCheckpoint — both branches scan the same
    RDD, the collect_list merge never runs twice) and the downstream
    plan costs at most the final distinct plus the (empty-here) salted
    join's exchanges. The signature column must never appear below the
    checkpoint: only (band, ids) rows flow on."""
    from yadf_spark.config import LshConfig
    from yadf_spark.operators import minhash

    rows = [(f"d{i}", f"some caption text number {i % 8} for similarity") for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    cfg = LshConfig()
    sig = minhash.add_signature(df, cfg)
    buckets = minhash.explode_bands(sig, cfg, id_col="image_id")
    pairs = minhash.candidate_pairs_from_buckets(buckets, cfg.salt_bucket_above, cfg.max_bucket)
    plan = _formatted(pairs)
    # the aggregation subtree was checkpointed: every consumer scans the
    # materialized RDD instead of re-running the collect_list merge
    assert "ExistingRDD" in plan, plan
    assert "collect_list" not in plan, (
        "bucket agg must not re-run downstream of the checkpoint:\n" + plan
    )
    n_shuffles = plan.count("Exchange hashpartitioning")
    # no bucket here exceeds the salt threshold, so the adaptive skip
    # must have elided the salted self-join subplan entirely — the only
    # shuffle left is the final distinct, and no join operator appears
    assert n_shuffles <= 1, f"{n_shuffles} shuffles:\n{plan}"
    assert "Join" not in plan, "salted join must be skipped when all buckets are small:\n" + plan
    # pair expansion happens JVM-side (size-2 projection + HOF
    # combinations) — no Python worker stage below the checkpoint
    assert "MapInPandas" not in plan, "bucket expansion must not cross into Python:\n" + plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "sig" not in ln.split("[")[0], ln


def test_aqe_splits_skewed_ladder_join(spark):
    """The ladder's groupBy+join count pattern was chosen over windows
    BECAUSE AQE can split a skewed join partition at runtime — prove the
    machinery engages: with thresholds scaled to test data, a corpus
    where half the rows share one size must produce a skew-split join
    (isSkew=true / 'skew=' marker in the final adaptive plan)."""
    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_confs}
    for k, v in skew_confs.items():
        spark.conf.set(k, v)
    try:
        # 20k rows of one payload size (the viral key) + scattered sizes
        rows = [(f"v{i:05d}", bytes([i % 251]) * 64) for i in range(20_000)]
        rows += [(f"u{i:05d}", bytes([i % 251]) * (100 + i % 400)) for i in range(2_000)]
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        assignments = exact.exact_assignments(df, cfg=LadderConfig(truncate_lineage=False))
        # drive THIS DataFrame's own QueryExecution so its adaptive plan
        # finalizes (a write/count spawns a separate execution)
        assert len(assignments.collect()) == 22_000
        final = assignments._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    """Iceberg-style layout stand-in: a corpus written partitioned by a
    low-cardinality column must prune partitions at the scan when
    filtered on it (PartitionFilters in the plan + fewer files read)."""
    rows = [(f"id{i}", ["png", "jpeg", "webp"][i % 3], i) for i in range(90)]
    df = spark.createDataFrame(rows, "image_id string, fmt string, n long")
    path = str(tmp_path / "ptab")
    df.write.partitionBy("fmt").parquet(path)

    q = spark.read.parquet(path).filter(F.col("fmt") == "png").select("image_id")
    plan = _formatted(q)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "fmt" in pf[0], plan
    assert q.count() == 30


def test_char_class_stats_zero_exchange_codegen(spark, docs):
    """The quality-feature pass is a pure narrow map: no exchange, no
    Python worker, one codegen span over the scan."""
    from yadf_spark.operators import curation

    out = curation.char_class_stats(docs, "doc_id", "text")
    plan = _formatted(out)
    assert "Exchange" not in plan
    # formatted mode marks codegen stages with a leading "*"
    assert "* Project" in plan
    assert "Python" not in plan


def test_token_histogram_partial_agg(spark, docs):
    """The length histogram must combine map-side: what crosses the
    exchange is one partial count per (partition, bin), never a row
    per document."""
    from yadf_spark.functions import text as T

    bin_col = (F.floor(T.token_count(F.col("text")) / 10) * 10).cast("long")
    out = docs.groupBy(bin_col.alias("bin")).agg(F.count("*").alias("n"))
    plan = _formatted(out)
    assert "partial_count" in plan
    assert "Window" not in plan


def test_format_audit_zero_exchange_codegen(spark, tmp_path):
    """The magic-byte format filter of ``--drop-format-mismatch`` must run
    at scan speed: codegen over the source — no exchange, no Python
    worker, no decode stage."""
    from yadf_spark.fixtures.images import images_df
    from yadf_spark.operators import multimodal as mm

    images_df(spark, 64, seed=3).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    # the CLI's filter (cli.py, near-dup mode) over a table with a fmt column
    sniffed = mm.sniffed_format_col(F.col("bytes"))
    kept = src.filter((sniffed != F.lit("unknown")) & (F.col("fmt") == sniffed))
    plan = _formatted(kept.select("image_id", "caption", "phash"))
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "* Project" in plan  # one codegen projection over the scan


def test_jaccard_threshold_sweep_single_pass_partial_agg(spark):
    """The threshold sweep must be ONE pass over the verified pair set:
    the constant threshold array explodes (Generate) over survivors and
    the per-threshold counts combine map-side — never one candidate
    join per threshold."""
    import __spark_entry__ as entrymod

    out = entrymod.q_jaccard_threshold_sweep(spark, "/root/testdata/sf0.001")
    plan = _formatted(out)
    assert plan.count("Generate") >= 1  # the explode
    assert "partial_sum" in plan  # map-side combine of the vote counts
    # exactly one MinHash signature stage: the candidate machinery is
    # not replicated per threshold (5 thresholds -> would be 5 batches)
    assert plan.count("BatchEvalPython") <= 1 and plan.count("ArrowEvalPython") <= 1


def test_cross_corpus_pairs_single_shuffle_no_join_when_small(spark):
    """The cross-corpus gate's pair generation mirrors the self-join
    path's plan discipline: the two-sided bucket agg is checkpointed
    once (ExistingRDD, no collect_list downstream), the salted-join
    subplan is elided when no bucket needs it, expansion stays JVM-side,
    and no signature column crosses an exchange."""
    from yadf_spark.config import LshConfig
    from yadf_spark.operators import minhash

    batch = spark.createDataFrame(
        [(f"n{i}", f"some caption text number {i % 8} for similarity") for i in range(16)],
        "image_id string, caption string",
    )
    hist = spark.createDataFrame(
        [(f"h{i}", f"some caption text number {i % 8} for similarity") for i in range(48)],
        "image_id string, caption string",
    )
    cfg = LshConfig()
    ba = minhash.explode_bands(minhash.add_signature(batch, cfg), cfg, id_col="image_id")
    bb = minhash.explode_bands(minhash.add_signature(hist, cfg), cfg, id_col="image_id")
    pairs = minhash.cross_candidate_pairs_from_buckets(
        ba, bb, cfg.salt_bucket_above, cfg.max_bucket
    )
    plan = _formatted(pairs)
    assert "ExistingRDD" in plan, plan
    assert "collect_list" not in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"{n_shuffles} shuffles:\n{plan}"
    assert "Join" not in plan, "salted join must be elided for small buckets:\n" + plan
    assert "MapInPandas" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "sig" not in ln.split("[")[0], ln


def test_cluster_quality_no_corpus_collect_and_single_cell_agg(spark, docs):
    """The evaluation report aggregates contingency CELLS — the joined
    frame is grouped once and the marginals read the cell aggregates
    (HashAggregate chain), with only 1-row frames cross-joined; no
    collect_list / window over the corpus anywhere."""
    from yadf_spark.operators import evaluation

    clusters = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 50).cast("string").alias("cluster_id"),
    )
    truth = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 40).cast("string").alias("true_cluster"),
    )
    plan = _formatted(evaluation.cluster_quality(clusters, truth))
    assert "collect_list" not in plan, plan
    assert "Window" not in plan, plan
    # cross-joins of the single-row aggregates are the only nested-loop
    # joins; the id join itself must be a real equi-join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_cluster_quality_extended_no_corpus_collect(spark, docs):
    """The element/entropy report has the same shape discipline as the
    pair report: one (cluster, truth) cell aggregation, marginals
    joined back to the CELLS (equi-joins), 1-row aggregates
    cross-joined — no collect_list, no window, nothing O(corpus) on
    the driver."""
    from yadf_spark.operators import evaluation

    clusters = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 50).cast("string").alias("cluster_id"),
    )
    truth = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 40).cast("string").alias("true_cluster"),
    )
    plan = _formatted(evaluation.cluster_quality_extended(clusters, truth))
    assert "collect_list" not in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_cluster_quality_report_reuses_contingency_exchange(spark, docs):
    """The combined pair+element report must compute the corpus-sized
    id-join/cell-aggregation ONCE: after execution the AQE-final plan
    shows ReusedExchange nodes for the shared contingency subplan (two
    separate collects — the shape the CLI and bench previously had —
    would run it twice)."""
    import contextlib
    import io

    from yadf_spark.operators import evaluation

    clusters = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 50).cast("string").alias("cluster_id"),
    )
    truth = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 40).cast("string").alias("true_cluster"),
    )
    rep = evaluation.cluster_quality_report(clusters, truth)
    row = rep.collect()[0]
    assert row["n_items"] > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rep.explain("formatted")
    assert buf.getvalue().count("ReusedExchange") >= 1, buf.getvalue()
