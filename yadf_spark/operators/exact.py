"""Exact duplicate groups via the staged group-by-refinement ladder.

Logical query (the reference's whole engine is physical optimization of
this one statement — reference: scripts/yadf.py:19-69):

    SELECT collect_list(id) FROM corpus
    WHERE size BETWEEN :min AND :max
    GROUP BY content_hash(payload)
    HAVING count(*) > 1
    ORDER BY content_hash(payload)

The ladder refines cheap keys into expensive ones, doing expensive work
only inside multi-member buckets (reference: src/fs.rs:42-262, README
"a file with a unique size can never be a duplicate"):

  stage 0  scan        -> (id, size, p_hash, s_hash)  narrow projection;
                          the payload column NEVER crosses a shuffle
  stage 1  size        -> singletons exit with synthetic key sz:<size>
  stage 2  prefix hash -> singletons exit; small payloads (< 4 KiB)
                          resolve here (prefix covered content+size)
  stage 3  suffix hash -> only payloads >= 64 KiB; sub-singletons exit
  stage 4  full hash   -> survivors only, via a second scan semi-joined
                          on the (small) candidate id set — broadcast
                          when possible so payload bytes never shuffle

Scale notes (100 TB / 10^12 rows):
* Stages 1-3 shuffle only (id, size, 2 hashes) ~ 60 bytes/row.
* Per-stage group sizes come from ``groupBy(key).count()`` joined back
  rather than count-over-window: the partial aggregate absorbs key
  skew map-side, and AQE can split a skewed join partition — a window
  would pin every row of a viral key to one task. All three counts run
  directly over the checkpointed narrow frame (see the equivalence
  argument inside :func:`exact_assignments`), so each aggregate
  executes exactly once.
* Stage 4 re-reads only candidate rows from the columnar source; the
  semi-join key set is broadcast only while its measured row count is
  under ``broadcast_candidates_below`` (driver-heap guard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yadf_spark.config import DEFAULT_FACTOR, Factor, LadderConfig, ScanFilter
from yadf_spark.functions import hashes


def apply_scan_filters(
    df: DataFrame,
    flt: ScanFilter | None,
    id_col: str = "image_id",
    size: Column | None = None,
) -> DataFrame:
    """Row predicates pushed toward the scan (reference:
    src/fs/filter.rs:47-65). The name regex/glob match the final
    ``/``-separated component of the id, like the reference matches the
    file name, not the full path (src/fs/filter.rs:68-88)."""
    if flt is None:
        return df
    if size is None:
        size = F.length("bytes")
    # null payloads are size 0, same as the ladder's own size column —
    # a bare length(NULL) comparison would silently DROP the row from
    # the scan instead of routing it to the zero-size bucket
    size = F.coalesce(size.cast("long"), F.lit(0))
    if flt.min_size is not None:
        df = df.filter(size >= flt.min_size)
    if flt.max_size is not None:
        df = df.filter(size <= flt.max_size)
    basename = F.element_at(F.split(F.col(id_col), "/"), -1)
    if flt.regex is not None:
        df = df.filter(basename.rlike(flt.regex))
    glob_re = flt.glob_as_regex()
    if glob_re is not None:
        df = df.filter(basename.rlike(glob_re))
    return df


def exact_assignments(
    df: DataFrame,
    id_col: str = "image_id",
    payload_col: str = "bytes",
    cfg: LadderConfig | None = None,
    scan_filter: ScanFilter | None = None,
) -> DataFrame:
    """Run the ladder; return one row per input row:
    ``(id, size, group_key, stage)`` where rows sharing ``group_key``
    are exact duplicates. ``stage`` records which rung resolved the row
    (the per-stage metrics surface, reference: src/lib.rs:120-139)."""
    cfg = cfg or LadderConfig()
    df = apply_scan_filters(df, scan_filter, id_col=id_col, size=F.length(payload_col))
    src = df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))

    size = F.coalesce(F.length("payload"), F.lit(0)).cast("long")
    # A null payload (fetch failed) is never byte-identical to anything
    # (G7, the rule verify and the gate apply too), so it gets a
    # per-row prefix key and resolves as a singleton. Hashing it would
    # give every null row the same key: xxhash64 skips NULL inputs, so
    # the prefix hash of (0, NULL) is the hash of the size alone.
    p_hash = F.when(
        F.col("payload").isNull(), F.concat(F.lit("null:"), F.col("id").cast("string"))
    ).otherwise(hashes.prefix_hash(F.col("payload"), size, cfg.prefix_len, cfg.algo))
    narrow = src.select(
        "id",
        size.alias("size"),
        p_hash.alias("p_hash"),
        F.when(
            size >= cfg.suffix_threshold,
            hashes.suffix_hash(F.col("payload"), cfg.suffix_len, cfg.algo),
        ).alias("s_hash"),
    )
    if cfg.truncate_lineage:
        # The output is a union whose branches all contain `narrow`;
        # Catalyst plans branches independently and does not reuse
        # exchanges across them, so a lazy `narrow` gets its payload
        # scan + prefix/suffix hashing re-executed per branch — the one
        # pass that must run exactly once at 100 TB. One eager
        # ~60 B/row materialization (executor-local blocks, released by
        # the context cleaner with the returned frame) pins it to once.
        # Durability trade, deliberately (same as verify.py's pair
        # checkpoint): checkpoint blocks die with their executor and
        # lineage is truncated, so an executor loss mid-job fails the
        # JOB instead of recomputing — on churny clusters wrap the call
        # in a workdir-backed Checkpointer stage (the pipeline does) or
        # set truncate_lineage=False to keep lazy recoverable plans.
        # The checkpoint also runs eagerly AT CALL TIME: pure plan
        # inspection wants truncate_lineage=False.
        narrow = narrow.localCheckpoint(eager=True)

    # Per-stage group sizes, all counted DIRECTLY over `narrow` (three
    # scans of a ~60 B/row frame) rather than over chained
    # filter-of-join frames. The unchained counts are equivalent
    # because every key already refines the previous stage's partition:
    # p_hash mixes size (rows sharing p_hash share size, so a prefix
    # group is either entirely inside one multi-member size bucket or
    # entirely singleton-sized), and s_hash is keyed jointly WITH
    # p_hash. A cross-size hash collision — the only case where the
    # counts could differ from stage-filtered ones — inflates a count
    # and routes the row DOWN the ladder to a stricter stage, never up:
    # the full hash remains the verdict, output groups stay correct.
    # Counting this way collapsed the plan from t1 evaluated 4x / t2 3x
    # / large 2x (one evaluation per union branch, no ReusedExchange)
    # to every aggregate exactly once — measured 1.5x marginal
    # throughput on the bench corpus.
    c_size = narrow.groupBy("size").agg(F.count("*").alias("n_size"))
    c_p = narrow.groupBy("p_hash").agg(F.count("*").alias("n_p"))
    c_s = (
        narrow.filter(F.col("size") >= cfg.suffix_threshold)
        .groupBy("p_hash", "s_hash")
        .agg(F.count("*").alias("n_s"))
    )

    # One pass over `narrow` through three chained joins (the count
    # sides broadcast under AQE at interactive scale; at 10^12 rows
    # they shuffle ~16-60 B/row — map-side partial aggregation absorbs
    # key skew before each counts shuffle, the reason this is a
    # groupBy+join and never a count-over-window: a window would pin
    # every row of a viral key to one task). Null-safe join keys also
    # carry a deliberate physical side effect: the coalesce/isnull key
    # expressions do NOT match the count aggregate's own hash
    # partitioning, so Catalyst re-exchanges the (tiny) counts side
    # instead of pipelining the join into the aggregate's reduce stage
    # — which keeps both SMJ children plain shuffle reads, the exact
    # shape AQE's OptimizeSkewedJoin can split. A bare `join(c, key)`
    # reuses the aggregate exchange and PINS every row of a viral key
    # (10^9 same-size thumbnails) to the one task that computed its
    # count, with no skew split possible (measured: skew=true
    # disappears from the plan) — one saved 16 B/row exchange is not
    # worth an unsplittable straggler.
    t = narrow.join(
        c_size.withColumnRenamed("size", "_cs"),
        F.col("size").eqNullSafe(F.col("_cs")),
    ).drop("_cs")
    t = t.join(
        c_p.withColumnRenamed("p_hash", "_cp"),
        F.col("p_hash").eqNullSafe(F.col("_cp")),
    ).drop("_cp")
    t = t.join(
        c_s.withColumnRenamed("p_hash", "_csp").withColumnRenamed("s_hash", "_css"),
        F.col("p_hash").eqNullSafe(F.col("_csp")) & F.col("s_hash").eqNullSafe(F.col("_css")),
        "left",
    ).drop("_csp", "_css")

    # Stage routing, evaluated in ladder order (G1-G6). A prefix-hash
    # GROUP (n_p > 1) may resolve at the prefix rung only when the
    # prefix provably covered every byte: size <= prefix_len (a
    # full_hash_min_size-only guard would declare rows sharing a prefix
    # but differing in the tail exact duplicates — the one thing the
    # ladder must never do). The suffix rung applies only to payloads
    # >= suffix_threshold; everything else that reaches it needs the
    # full hash.
    small_cut = min(cfg.prefix_len, cfg.full_hash_min_size - 1)
    stage = (
        F.when(F.col("n_size") == 1, F.lit("size"))
        .when((F.col("n_p") == 1) | (F.col("size") <= small_cut), F.lit("prefix"))
        .when(
            (F.col("size") >= cfg.suffix_threshold) & (F.col("n_s") == 1), F.lit("suffix")
        )
        .otherwise(F.lit("full"))
    )
    annotated = t.select("id", "size", "p_hash", "s_hash", stage.alias("stage")).withColumn(
        "group_key",
        F.when(F.col("stage") == "size", hashes.size_key(F.col("size")))
        .when(F.col("stage") == "prefix", F.col("p_hash"))
        .when(
            F.col("stage") == "suffix",
            F.concat(F.col("p_hash"), F.lit("|s:"), F.col("s_hash")),
        ),
    )
    if cfg.truncate_lineage:
        # Second (and last) lineage cut: the resolved-rows branch and
        # the full-hash candidate branch below would otherwise each
        # re-run the count aggregates + joins (same no-ReusedExchange
        # reason as `narrow`).
        annotated = annotated.localCheckpoint(eager=True)

    resolved = annotated.filter(F.col("stage") != "full").select(
        "id", "size", "group_key", "stage"
    )

    # stage 4: full-content hash for surviving colliders only (G6).
    full_candidates = annotated.filter(F.col("stage") == "full").select("id")
    # Broadcast the semi-join so the payload column never crosses an
    # exchange (O6) — but only when the candidate id set actually fits:
    # ``broadcast_candidates_below`` is a ROW-COUNT cutoff. Decision
    # ladder, cheapest evidence first:
    #   1. If Catalyst's size estimate of the WHOLE INPUT is under the
    #      64 MiB broadcast ceiling, the candidate id subset certainly
    #      fits — hint immediately, zero extra jobs (the common small /
    #      interactive case).
    #   2. Otherwise count the id frame and compare the real row
    #      count: one extra narrow pass, the price of never
    #      broadcasting an unbounded set onto the driver.
    # Set the knob to 0 to skip both; Catalyst/AQE then picks the join
    # strategy from runtime statistics.
    if cfg.broadcast_candidates_below:
        try:
            est_bytes = int(
                src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
            )
        except Exception:
            est_bytes = None
        if est_bytes is not None and est_bytes <= (64 << 20):
            full_candidates = F.broadcast(full_candidates)
        else:
            if not cfg.truncate_lineage:
                # without the `annotated` checkpoint above, count() and
                # the semi-join below would each re-evaluate the whole
                # count/join chain — cut the lineage once here.
                # localCheckpoint, NOT persist: a persisted frame stays
                # registered in the cache manager until an explicit
                # unpersist() that a library caller never gets to issue
                # (ADVICE r2 — storage accumulated across calls in long
                # sessions); checkpoint blocks are released by the
                # context cleaner with the returned frame.
                full_candidates = full_candidates.localCheckpoint(eager=True)
            if full_candidates.count() < cfg.broadcast_candidates_below:
                full_candidates = F.broadcast(full_candidates)
    out_full = (
        src.join(full_candidates, "id", "left_semi")
        .select(
            "id",
            F.coalesce(F.length("payload"), F.lit(0)).cast("long").alias("size"),
            hashes.full_hash(F.col("payload"), cfg.algo).alias("group_key"),
            F.lit("full").alias("stage"),
        )
    )

    return resolved.unionByName(out_full)


def factor_predicate(count_col: Column, factor: Factor) -> Column:
    """HAVING predicate for the replication factor (reference:
    src/bag/replicates.rs:55-63)."""
    if factor.op == "under":
        return count_col < factor.n
    if factor.op == "equal":
        return count_col == factor.n
    if factor.op == "over":
        return count_col > factor.n
    raise ValueError(f"unknown factor op {factor.op!r}")


def groups_from_assignments(
    assignments: DataFrame,
    factor: Factor = DEFAULT_FACTOR,
    ordered: bool = True,
) -> DataFrame:
    """Materialize groups: ``(group_key, members array<id>, n)``, filtered
    by the replication factor (reference: src/bag.rs:66-78) and sorted by
    key for deterministic output (the BTreeMap property, src/bag.rs:30)."""
    grouped = (
        assignments.groupBy("group_key")
        .agg(
            F.sort_array(F.collect_list("id")).alias("members"),
            F.count("*").alias("n"),
        )
        .filter(factor_predicate(F.col("n"), factor))
    )
    return grouped.orderBy("group_key") if ordered else grouped


def exact_dup_groups(
    df: DataFrame,
    id_col: str = "image_id",
    payload_col: str = "bytes",
    cfg: LadderConfig | None = None,
    scan_filter: ScanFilter | None = None,
    factor: Factor = DEFAULT_FACTOR,
) -> DataFrame:
    """End-to-end: ladder -> groups (the flagship exact-dedup query)."""
    assignments = exact_assignments(df, id_col, payload_col, cfg, scan_filter)
    return groups_from_assignments(assignments, factor)


def scan_stats(assignments: DataFrame) -> DataFrame:
    """Per-stage metrics (reference: src/lib.rs:120-139 — "found N
    possible duplicates after initial scan / N duplicates in M groups").
    One row: scanned, resolved-by-stage counts, dup rows, dup groups."""
    groups = assignments.groupBy("group_key").agg(F.count("*").alias("n"))
    dup = groups.filter(F.col("n") > 1).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("duplicates"),
        F.count("*").alias("dup_groups"),
    )
    per_stage = (
        assignments.groupBy()
        .pivot("stage", ["size", "prefix", "suffix", "full"])
        .count()
        .na.fill(0)
    )
    total = assignments.agg(F.count("*").alias("scanned"))
    return total.crossJoin(per_stage).crossJoin(dup)
