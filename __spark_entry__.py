"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 (plus
the north_rule's near-dup operators and the training-data text
operators) over the driver's TPC-H-ish testdata; ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for every SQL-expressible entry. Column
names and types are aligned on both sides (the driver's compare sorts
columns by name and value-hashes).

Every entry is oracle-checked. Algorithms DuckDB cannot replay in SQL
alone (image phash bands, audio fingerprints, the flagship pipeline) are
checked against stored-truth parquet: a single-process replay of the
same pure kernels (or the fixture's planted truth), which DuckDB then
joins/ranks — so the oracle verifies the DISTRIBUTED plumbing against a
sequential run of the identical seeded algorithm.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yadf_spark.config import Factor, LadderConfig, LshConfig
from yadf_spark.functions import text as T
from yadf_spark.operators import curation, exact, minhash

# Portable (md5/sha256) ladder configuration for string payloads — the
# DuckDB oracle replicates every hash bit-for-bit. Thresholds are scaled
# to caption/document lengths so all four stages exercise.
DOC_LADDER = LadderConfig(
    prefix_len=16, suffix_len=16, suffix_threshold=256, full_hash_min_size=32, algo="md5"
)

STOP_SQL = ", ".join(f"'{s}'" for s in T.STOPWORDS)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_corpus(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("image_id"), F.col("text").alias("bytes")
    )


def _members_str(col: str = "doc_id"):
    """Group membership serialized to one sorted '|'-joined string.

    The driver's oracle harness canonicalizes result frames with pandas
    ``sort_values``, which cannot factorize list columns — so every
    group query emits members as a scalar string (DuckDB mirror:
    ``array_to_string(list_sort(list(col)), '|')``)."""
    return F.array_join(
        F.transform(F.sort_array(F.collect_list(col)), lambda x: x.cast("string")), "|"
    )


# --------------------------------------------------------------------------
# the shared ladder CTE (mirrors yadf_spark.operators.exact bit-for-bit
# in md5 mode — same stage routing, same key namespaces)
# --------------------------------------------------------------------------
LADDER_CTE = """
base AS (SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS size, text FROM documents),
t1 AS (SELECT *, count(*) OVER (PARTITION BY size) AS n_size FROM base),
out_size AS (
  SELECT id, size, 'sz:' || CAST(size AS VARCHAR) AS group_key, 'size' AS stage
  FROM t1 WHERE n_size = 1),
t2 AS (SELECT *, 'p:' || md5(CAST(size AS VARCHAR) || ':' || left(text, 16)) AS p_hash
       FROM t1 WHERE n_size > 1),
t3 AS (SELECT *, count(*) OVER (PARTITION BY p_hash) AS n_p FROM t2),
out_prefix AS (
  SELECT id, size, p_hash AS group_key, 'prefix' AS stage
  FROM t3 WHERE n_p = 1 OR size <= 16),
surv AS (SELECT * FROM t3 WHERE NOT (n_p = 1 OR size <= 16)),
big AS (SELECT *, md5(right(text, 16)) AS s_hash FROM surv WHERE size >= 256),
big2 AS (SELECT *, count(*) OVER (PARTITION BY p_hash, s_hash) AS n_s FROM big),
out_suffix AS (
  SELECT id, size, p_hash || '|s:' || s_hash AS group_key, 'suffix' AS stage
  FROM big2 WHERE n_s = 1),
full_c AS (
  SELECT id, size, text FROM surv WHERE size < 256
  UNION ALL
  SELECT id, size, text FROM big2 WHERE n_s > 1),
out_full AS (SELECT id, size, 'f:' || sha256(text) AS group_key, 'full' AS stage FROM full_c),
ladder AS (
  SELECT * FROM out_size UNION ALL SELECT * FROM out_prefix
  UNION ALL SELECT * FROM out_suffix UNION ALL SELECT * FROM out_full)
"""

# Winnowing CTE (k=12 char grams, w=8 windows, md5_32 portable hash).
# DuckDB list slicing hs[i:j] is 1-based inclusive; short slices at the
# array tail mirror Spark's null-ignoring least() over zip fields.
WINNOW_CTE = """
h AS (
  SELECT doc_id,
    CASE WHEN length(text) >= 12
      THEN [CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), 12)), 1, 8)) AS BIGINT)
            FOR i IN range(1, length(text) - 10)]
      ELSE [CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)]
    END AS hs
  FROM documents),
m AS (
  SELECT doc_id,
    list_sort(list_distinct([list_min(hs[CAST(i AS INT):CAST(i AS INT)+7])
        FOR i IN range(1, greatest(len(hs) - 7, 1) + 1)])) AS fps
  FROM h)
"""

# DSIR (Xie et al. 2023): hashed unigram+bigram bucket models of the
# target (every-50th doc) vs the raw corpus, add-1 smoothing over 4096
# buckets, per-doc log importance weight = sum of per-gram log-ratios.
DSIR_CTE = """
dtok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
         FROM documents WHERE trim(coalesce(text, '')) <> ''),
dgram AS (
  SELECT doc_id, w[i] AS g
  FROM dtok, unnest(generate_series(1, len(w))) AS t(i)
  UNION ALL
  SELECT doc_id, w[i] || ' ' || w[i+1]
  FROM dtok, unnest(generate_series(1, len(w) - 1)) AS t(i)),
dbkt AS (SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
         FROM dgram),
dtc AS (SELECT b, count(*) AS c FROM dbkt WHERE doc_id % 50 = 0 GROUP BY 1),
dqc AS (SELECT b, count(*) AS c FROM dbkt GROUP BY 1),
dtot AS (SELECT (SELECT coalesce(sum(c), 0) FROM dtc) AS tp,
                (SELECT sum(c) FROM dqc) AS tq),
dlr AS (SELECT dqc.b,
               ln((coalesce(dtc.c, 0) + 1.0) / (dtot.tp + 4096.0))
             - ln((dqc.c + 1.0) / (dtot.tq + 4096.0)) AS r
        FROM dqc LEFT JOIN dtc USING (b), dtot),
dw AS (SELECT dbkt.doc_id, count(*) AS n_grams, sum(dlr.r) AS log_w
       FROM dbkt JOIN dlr USING (b) GROUP BY 1)
"""

SHINGLE_CTE = """
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)),
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
jac AS (SELECT da AS id_a, db AS id_b, round(i / (sa.s + sb.s - i), 6) AS jaccard
        FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db)
"""

# The caption near-dup closure on top of SHINGLE_CTE's `jac` pair table:
# verified edges at Jaccard >= 0.8, min-label reach, (id, cluster_id).
# Shared by every cluster-level oracle added after round 2 (the earlier
# cluster oracles spell the same fragment inline).
CLUSTER_CTE = """
e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
bidir AS (
  SELECT id_a AS u, id_b AS v FROM e
  UNION
  SELECT id_b AS u, id_a AS v FROM e),
reach(id, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
  UNION
  SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
"""


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------
def q_size_groups(spark, sf_dir):
    """G1: group-by-size with collected members — the zero-I/O prefilter."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.length("text").cast("long").alias("size"))
        .agg(_members_str().alias("members"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("size")
    )


def _rfactor(spark, sf_dir, factor: Factor):
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy(F.length("text").cast("long").alias("size")).agg(F.count("*").alias("n"))
    return g.filter(exact.factor_predicate(F.col("n"), factor)).orderBy("size")


def q_rfactor_under(spark, sf_dir):
    """F7: groups with replication factor under:3."""
    return _rfactor(spark, sf_dir, Factor.under(3))


def q_rfactor_equal(spark, sf_dir):
    """F7: equal:1 — the uniques view."""
    return _rfactor(spark, sf_dir, Factor.equal(1))


def q_rfactor_over(spark, sf_dir):
    """F7: over:2."""
    return _rfactor(spark, sf_dir, Factor.over(2))


def q_size_filter(spark, sf_dir):
    """F2+F3: min/max size predicates pushed to the scan."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter((F.length("text") >= 150) & (F.length("text") <= 300))
        .select("doc_id", F.length("text").cast("long").alias("size"))
        .orderBy("doc_id")
    )


def q_regex_filter(spark, sf_dir):
    """F4: regex on the name-like column."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("source").rlike("^src[0-9]$")).select("doc_id", "source").orderBy("doc_id")


def q_glob_filter(spark, sf_dir):
    """F5: glob on the name-like column (glob -> regex translation)."""
    import fnmatch

    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("source").rlike(fnmatch.translate("src1*")))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_keep_first_per_key(spark, sf_dir):
    """U1 (keep-oldest cleaner): rank rows per group by time, keep #1."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event"),
            # parquet timestamps load as TIMESTAMP_NTZ; cast via UTC session
            # so the micros equal DuckDB's epoch_us over the naive value
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .orderBy("user_id")
    )


def q_dedup_by_key(spark, sf_dir):
    """F6 (hard-link suppression analog): first id per natural key."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("keeper"), F.count("*").alias("n"))
        .orderBy("user_id", "event_type")
    )


def q_prefix_hash_groups(spark, sf_dir):
    """G3: partial (prefix) hash grouping, size mixed into the key."""
    d = _t(spark, sf_dir, "documents")
    p = F.md5(F.concat_ws(":", F.length("text").cast("string"), F.expr("left(text, 12)")))
    return (
        d.groupBy(p.alias("p_hash"))
        .agg(_members_str().alias("members"), F.count("*").alias("n"))
        .orderBy("p_hash")
    )


def q_suffix_hash_groups(spark, sf_dir):
    """G5: suffix (tail) hash grouping."""
    d = _t(spark, sf_dir, "documents")
    s = F.md5(F.expr("right(text, 12)"))
    return (
        d.groupBy(s.alias("s_hash"))
        .agg(_members_str().alias("members"), F.count("*").alias("n"))
        .orderBy("s_hash")
    )


def q_full_hash_groups(spark, sf_dir):
    """G6: full-content hash duplicate groups (HAVING n > 1).

    The synthetic documents table has no exact full-text duplicates, so
    the check plants them deterministically in-query: every 17th doc is
    re-ingested under ``doc_id + 1_000_000`` (union, no external data).
    The oracle mirrors the plant, so the check is non-vacuous — the
    reference's keystone semantics (tests/particular_cases.rs:25-49)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    plant = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(plant)
        .groupBy(F.md5("text").alias("f_hash"))
        .agg(_members_str().alias("members"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("f_hash")
    )


def q_naive_full_hash_groups(spark, sf_dir):
    """U2 (the reference's Python sibling, scripts/yadf.py:19-69): the
    un-optimized semantics — full-hash EVERY row, no size pre-grouping.
    The cleanest statement of the engine's one logical query; also the
    bench baseline the staged ladder must beat."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("f_hash"))
        .agg(_members_str().alias("members"), F.count("*").alias("n"))
        .orderBy("f_hash")
    )


def q_ladder_assignment(spark, sf_dir):
    """G1-G7 composed: the full staged ladder, every row assigned a
    namespaced group key + the stage that resolved it."""
    a = exact.exact_assignments(
        _docs_as_corpus(spark, sf_dir), cfg=DOC_LADDER
    )
    return a.select(
        F.col("id").alias("doc_id"), F.col("size"), F.col("group_key"), F.col("stage")
    ).orderBy("doc_id")


def q_ladder_groups(spark, sf_dir):
    """G8: materialized groups from the ladder (rfactor over:0 keeps all
    buckets so the oracle can check totals)."""
    a = exact.exact_assignments(_docs_as_corpus(spark, sf_dir), cfg=DOC_LADDER)
    g = exact.groups_from_assignments(a, Factor.over(0))
    return g.select(
        "group_key",
        F.array_join(F.transform("members", lambda x: x.cast("string")), "|").alias("members"),
        F.col("n"),
    )


def q_scan_stats(spark, sf_dir):
    """G9: per-stage scan statistics, one row."""
    a = exact.exact_assignments(_docs_as_corpus(spark, sf_dir), cfg=DOC_LADDER)
    return exact.scan_stats(a)


def q_exact_dedup_docs(spark, sf_dir):
    """Exact text dedup: keep min id per distinct text."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))
        .select("keeper", "n")
        .orderBy("keeper")
    )


def q_normalized_dedup_docs(spark, sf_dir):
    """Normalization-insensitive exact dedup (the CCNet/C4 canonical-form
    pass): group by ``fingerprint(text)`` — lowercase, strip
    punctuation, collapse whitespace, md5 — so retyped copies that raw
    byte-equality misses (case flips, stray punctuation, double spaces)
    land in one group. The corpus has no such variants naturally, so the
    query PLANTS them: every 20th document re-enters as an
    uppercased+punctuated copy under ``doc_id + 1_000_000`` (both
    engines build the identical union), and the output is exactly the
    plant list: non-vacuous by construction. One narrow codegen map + one partial-agg
    groupBy on a 16-byte key; text never shuffles beyond the members
    collect (bounded: only n>1 groups survive)."""
    d = _t(spark, sf_dir, "documents")
    variants = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
    )
    allv = d.select("doc_id", "text").unionByName(variants)
    return (
        allv.groupBy(T.fingerprint(F.col("text")).alias("fp"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), "|"
            ).alias("members"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 1)
        .orderBy("fp")
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidates, verified by exact Jaccard >= 0.8. The
    oracle computes exact all-pairs Jaccard — LSH recall at j >= 0.8 with
    128 perms / 32 bands is 1 - (1-0.8^4)^32 ~ 1 - 5e-8, so the outputs
    agree."""
    d = _t(spark, sf_dir, "documents")
    cfg = LshConfig()
    cand = minhash.minhash_candidates(d, cfg, id_col="doc_id", text_col="text")
    jac = minhash.exact_jaccard(cand, d, "doc_id", "text", k=cfg.shingle_k)
    return jac.filter(F.col("jaccard") >= 0.8).orderBy("id_a", "id_b")


def q_edit_near_dup_pairs(spark, sf_dir):
    """Edit-distance verification over the LSH-verified near-dup pairs:
    exact Levenshtein (JVM codegen, candidates only — never all-pairs)
    reported as absolute + relative distance, kept at rel <= 0.5. The
    short-text verifier: a few-word caption gives shingle sets too
    small for stable Jaccard, while character edits degrade gracefully.
    Oracle: all-pairs Jaccard >= 0.8 (LSH recall ~1-5e-8 at this
    config) + DuckDB levenshtein, same rounding."""
    d = _t(spark, sf_dir, "documents")
    cfg = LshConfig()
    cand = minhash.minhash_candidates(d, cfg, id_col="doc_id", text_col="text")
    jac = minhash.exact_jaccard(cand, d, "doc_id", "text", k=cfg.shingle_k)
    verified = jac.filter(F.col("jaccard") >= 0.8).select("id_a", "id_b")
    return minhash.edit_distance_pairs(
        verified, d, "doc_id", "text", max_rel_dist=0.5
    ).orderBy("id_a", "id_b")


def q_cross_corpus_near_dup_pairs(spark, sf_dir):
    """Batch-vs-history near-dup matches: documents split by
    ``doc_id % 5`` into a "new batch" (== 0) and the "history" corpus
    (!= 0), candidates from the two-sided LSH band join
    (minhash.cross_candidate_pairs_from_buckets — never a history
    self-join), verified by exact Jaccard >= 0.8. Oracle: all-pairs
    Jaccard restricted to cross-split pairs (LSH recall ~1-5e-8 at this
    config, the q_minhash_lsh_pairs argument)."""
    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    history = d.filter(F.col("doc_id") % 5 != 0)
    cfg = LshConfig()
    cand = minhash.minhash_candidates_between(batch, history, cfg, "doc_id", "text")
    jac = minhash.exact_jaccard_between(cand, batch, history, "doc_id", "text", k=cfg.shingle_k)
    return (
        jac.filter(F.col("jaccard") >= 0.8)
        .select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("hist_id"), "jaccard"
        )
        .orderBy("new_id", "hist_id")
    )


def q_jaccard_threshold_sweep(spark, sf_dir):
    """Dedup-threshold tuning observability: pair counts at every
    candidate verify threshold in [0.8, 1.0], computed in ONE pass over
    the LSH-verified pair set (explode a 5-element threshold array over
    the >= 0.8 survivors — never 5 reruns of the candidate join). The
    dashboard that decides where to set the production Jaccard bar:
    the drop-off shape separates true templates (flat to 1.0) from
    paraphrase tails. Thresholds stay >= 0.8 so the LSH recall ~ 1-5e-8
    argument (q_minhash_lsh_pairs) covers every reported bucket, and
    the all-pairs oracle agrees exactly."""
    d = _t(spark, sf_dir, "documents")
    cfg = LshConfig()
    cand = minhash.minhash_candidates(d, cfg, id_col="doc_id", text_col="text")
    jac = minhash.exact_jaccard(cand, d, "doc_id", "text", k=cfg.shingle_k)
    ths = [0.8, 0.85, 0.9, 0.95, 1.0]
    return (
        jac.filter(F.col("jaccard") >= 0.8)
        .select("jaccard", F.explode(F.array(*[F.lit(t) for t in ths])).alias("threshold"))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
            ).alias("n_pairs")
        )
        .orderBy("threshold")
    )


def q_token_stats(spark, sf_dir):
    """Token counting."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    ).orderBy("doc_id")


def q_quality(spark, sf_dir):
    """Quality scoring features + composite score."""
    d = _t(spark, sf_dir, "documents")
    feats = T.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


def q_language_id(spark, sf_dir):
    """Rule-based language ID heuristic."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.language_id(F.col("text")).alias("lang_pred")).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over normalized text."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


def q_hash_split_docs(spark, sf_dir):
    """Deterministic content-addressed train/val/test split (90/5/5).

    Pure function of doc_id (md5 bucket) — stable under repartitioning
    and incremental ingest, unlike rand()-based randomSplit. Narrow
    map, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    out = curation.hash_split(d, "doc_id", {"train": 90, "val": 5, "test": 5})
    return out.select("doc_id", "bucket", "split").orderBy("doc_id")


def q_stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sample: 50% of src1, 10% of src2, 20%
    of every other source — a pure function of doc_id (reproducible on
    any cluster size, unlike sampleBy's partition-dependent rand)."""
    d = _t(spark, sf_dir, "documents")
    out = curation.stratified_sample(
        d, "doc_id", "source", {"src1": 50, "src2": 10}, default_pct=20
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_pack_sequences_docs(spark, sf_dir):
    """Token-budget sequence packing (budget 500) per source shard:
    offset packing via an in-shard cumulative-token window — one
    shuffle, never a global ORDER BY."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", T.token_count(F.col("text")).cast("long")
    )
    out = curation.pack_sequences(d, "doc_id", "n_tokens", "source", budget=500)
    return out.select("doc_id", "source", "n_tokens", "pack_id").orderBy("doc_id")


def q_cap_per_source(spark, sf_dir):
    """Domain-cap curation: keep at most 20 docs per source, chosen by
    content-hash order (stable pseudo-random sample per group, not
    first-k-by-ingestion)."""
    d = _t(spark, sf_dir, "documents")
    out = curation.cap_per_group(d, "doc_id", "source", k=20)
    return out.select("doc_id", "source").orderBy("doc_id")


def q_repetition_features(spark, sf_dir):
    """Gopher-style repetition quality signals: distinct-token ratio +
    top-bigram coverage per document."""
    d = _t(spark, sf_dir, "documents")
    out = curation.repetition_features(d, "doc_id", "text")
    return out.withColumnRenamed("doc", "doc_id").orderBy("doc_id")


def q_decontaminate_docs(spark, sf_dir):
    """Train-test decontamination: flag corpus docs sharing any word
    5-gram with a 'benchmark' slice (doc_id % 10 == 7); the benchmark
    shingle set broadcasts, the corpus side never shuffles."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 10 == 7)
    corpus = d.where(F.col("doc_id") % 10 != 7)
    out = curation.decontaminate(corpus, bench, "doc_id", "text", k=5)
    return out.withColumnRenamed("doc", "doc_id").orderBy("doc_id")


def q_pii_redaction(spark, sf_dir):
    """PII scrub (emails / IPv4 / phone numbers) with per-kind counts.

    The corpus text carries no PII, so the query plants some first — a
    deterministic function of doc_id, mirrored verbatim in the oracle —
    making every count column non-vacuous. The scrub itself is chained
    regexp_replace/extract_all: pure JVM narrow map, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" from 10.0.0.1")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(
                F.lit("")
            ),
        ),
    )
    out = curation.redact_pii(planted, "doc_id", "text")
    return out.withColumnRenamed("doc", "doc_id").orderBy("doc_id")


def q_chunk_docs(spark, sf_dir):
    """Context-window chunking: 50-token windows, 10-token overlap
    (stride 40) — sequence → explode → slice, a shuffle-free narrow map
    whose row amplification is bounded per row."""
    d = _t(spark, sf_dir, "documents")
    out = curation.chunk_text(d, "doc_id", "text", chunk=50, overlap=10)
    return out.withColumnRenamed("doc", "doc_id").orderBy("doc_id", "chunk_id")


def q_dedup_lines_docs(spark, sf_dir):
    """Corpus-wide line-level dedup (the C4/RefinedWeb boilerplate
    pass) composed with the chunker: documents re-lined into 3-token
    spans, then every span appearing in more than 2 distinct documents
    is dropped and documents reassembled from the survivors. md5 line
    keys so DuckDB replays the frequency decision bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    chunks = curation.chunk_text(d, "doc_id", "text", chunk=3)
    lined = chunks.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                lambda s: s["chunk"],
            ),
            "\n",
        ).alias("text")
    )
    out = curation.dedup_lines(lined, "doc", "text", max_docs=2, algo="md5")
    return out.orderBy("doc")


def q_c4_clean_docs(spark, sf_dir):
    """The C4 heuristic cleaning pass (Raffel et al. 2020 §2.2). The
    corpus is a single-line token stream, so the query first plants a
    deterministic multi-line page around each document — a too-short
    line, a javascript line, a lorem-ipsum line, a code-brace line,
    and two good sentences, each present as a pure function of doc_id
    and mirrored verbatim in the oracle. Line verdicts + document
    gates all replay in DuckDB via list_filter/regexp_matches."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(i % 2 == 0, F.lit("Short one.")),
            F.when(i % 3 == 0, F.lit("This page uses JavaScript heavily.")),
            F.when(i % 5 == 0, F.lit("Lorem ipsum dolor sit amet.")),
            F.when(i % 7 == 0, F.lit("code sample { return 1; }")),
            F.lit("This is a perfectly good sentence."),
            F.when(i % 11 == 0, F.lit("Another fine sentence right here!")),
        ),
    )
    out = curation.c4_clean(planted, "doc_id", "text", min_words_per_line=3, min_kept_lines=2)
    return out.withColumnRenamed("doc", "doc_id").orderBy("doc_id")


def q_curation_pipeline_docs(spark, sf_dir):
    """The composed curation recipe end-to-end: C4 clean → exact dedup
    on cleaned text → content-addressed split → token-budget packing.
    Pages are planted so every stage does real work: a no-punct
    original line (dropped), a per-group line keyed on doc_id % 100
    (so the post-clean dedup collapses ~343 survivors to ~100), an
    always-kept sentence, and lorem/brace gate lines on doc_id % 5 /
    % 7. The oracle replays all four stages relationally — each stage
    reuses its own already-proven SQL shape."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(F.lit("Document group "), (i % 100).cast("string"),
                     F.lit(" reporting in.")),
            F.lit("This is a perfectly good sentence."),
            F.when(i % 5 == 0, F.lit("Lorem ipsum dolor sit amet.")),
            F.when(i % 7 == 0, F.lit("code sample { return 1; }")),
        ),
    )
    out = curation.curate_text_corpus(planted, "doc_id", "text", pack_budget=200)
    return out.select(
        F.col("doc").alias("doc_id"), "n_tokens", "split", "pack_id"
    ).orderBy("doc_id")


def q_repeated_spans_docs(spark, sf_dir):
    """Corpus-level EXACT repeated substrings (the ExactSubstr pass of
    Lee et al. 2022): maximal character spans covered by a 30-char
    window occurring in >= 2 distinct documents. Windows explode as
    (id, pos, md5) rows — ~24 B each, text never shuffles — and the
    per-doc merge is the sessionize lag+cumsum idiom. md5 keys so the
    DuckDB oracle replays window hashing, the hot set, and the interval
    merge bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    out = curation.repeated_spans(d, "doc_id", "text", min_len=30, algo="md5")
    return out.select(
        F.col("id").alias("doc_id"), "span_start", "span_end"
    ).orderBy("doc_id", "span_start")


def q_strip_spans_docs(spark, sf_dir):
    """ExactSubstr applied: every repeated span cut from every document
    (the paper's all-occurrences policy). The oracle reconstructs the
    cleaned STRING too — gap substrings between consecutive spans plus
    the tail, string_agg'd in span order — so the JVM fold that builds
    clean_text is value-checked end to end, not just its length."""
    d = _t(spark, sf_dir, "documents")
    out = curation.strip_repeated_spans(d, "doc_id", "text", min_len=30, algo="md5")
    return out.orderBy("doc_id")


def q_shuffle_shards_docs(spark, sf_dir):
    """Deterministic sharded training-order shuffle: content-addressed
    shard in [0,8) plus an in-shard position ordered by an independent
    content hash — a stable pseudo-random total order with one shuffle
    and no global ORDER BY."""
    d = _t(spark, sf_dir, "documents")
    out = curation.shuffle_shards(d, "doc_id", n_shards=8)
    return out.select("doc_id", "shard", "pos").orderBy("doc_id")


def q_quantile_filter_docs(spark, sf_dir):
    """Per-source quality gate: keep docs at or above their source's
    exact 25th-percentile length — one partial-agg pass for the
    thresholds, broadcast back, corpus side never shuffles."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    out = curation.quantile_threshold_filter(d, "score", "source", q=0.25)
    return out.select(
        "doc_id", "source", "score", F.round("thr", 6).alias("thr")
    ).orderBy("doc_id")


def q_source_overlap(spark, sf_dir):
    """Corpus-overlap matrix: pairwise shingle-set Jaccard between
    sources (hashed 8 B shingle keys; per-key join fanout bounded by
    the source count, not doc count). md5_32 mode so DuckDB replays
    the hash bit-for-bit."""
    d = _t(spark, sf_dir, "documents")
    return curation.source_overlap(d, "source", "text", k=3, algo="md5_32").orderBy(
        "src_a", "src_b"
    )


def q_vocab_top_tokens(spark, sf_dir):
    """Top-20 vocabulary tokens by document frequency (explode →
    partial-agg groupBy → TakeOrderedAndProject top-k; total-ordered
    tie-break on the token string — 20 < the corpus vocabulary, so the
    limit boundary and its tie-break are actually exercised)."""
    d = _t(spark, sf_dir, "documents")
    return curation.vocabulary(d, "doc_id", "text", top_n=20)


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 terms per document by smoothed TF-IDF (vocabulary-sized
    document-frequency side broadcast back onto per-doc counts)."""
    d = _t(spark, sf_dir, "documents")
    out = curation.tf_idf(d, "doc_id", "text", top_per_doc=3)
    return out.select(
        F.col("doc").alias("doc_id"), "token", "tf", "doc_freq", "tfidf", "rank"
    ).orderBy("doc_id", "rank")


#: target mixture for the mix contract queries — mass share ∝ source
#: index + 1 (src0 rarest target, src19 largest), sum over 1..20 = 210
MIX_TARGETS = {f"src{i}": (i + 1) / 210 for i in range(20)}


def q_mix_weights_sources(spark, sf_dir):
    """Data-mixing rate table: per-source char-mass, target fraction
    (∝ index+1), and the down-sample-only rate bound by the scarcest
    source (T = min mass/target; the binding source keeps rate 1.0)."""
    d = _t(spark, sf_dir, "documents")
    out = curation.mix_weights(d, "source", F.col("n_chars"), MIX_TARGETS)
    return out.orderBy("source")


def q_mix_sampled_docs(spark, sf_dir):
    """Documents surviving the mixture sample: content-addressed
    md5 bucket (id:mix salt, 10000 buckets) under the source's
    floor(rate·10000) threshold — exact integer decision both engines
    replay; stable under repartitioning and incremental ingest."""
    d = _t(spark, sf_dir, "documents")
    out = curation.apply_mix(d, "doc_id", "source", F.col("n_chars"), MIX_TARGETS)
    return out.select("doc_id", "source").orderBy("doc_id")


#: blocklist for the denylist contract queries — common corpus tokens
#: plus one guaranteed miss so zero-hit coverage is exercised
DENY_TERMS = ["spark", "window", "dup", "zzz_never_present"]

def _deny_in_list() -> str:
    return ", ".join(f"'{t}'" for t in sorted(DENY_TERMS))


def q_denylist_hits_docs(spark, sf_dir):
    """Wordlist screening (C4-style bad-word filter): per-doc count of
    blocklisted-token occurrences + sorted distinct matched terms. The
    term list compiles into the plan as a literal array, so the whole
    operator is a narrow map — zero shuffle at any corpus size. The
    sorted matched-term array is emitted comma-joined as a string
    (empty string when clean): the driver's canonicalizer cannot hash
    array cells."""
    d = _t(spark, sf_dir, "documents")
    out = curation.denylist_hits(d, "doc_id", "text", DENY_TERMS)
    return out.select(
        "doc_id",
        "n_hits",
        F.array_join("matched_terms", ",").alias("matched_terms"),
    ).orderBy("doc_id")


def q_denylist_clean_docs(spark, sf_dir):
    """Documents passing the blocklist filter (zero hits) — a pure
    in-plan predicate that stays inside the scan's codegen stage."""
    d = _t(spark, sf_dir, "documents")
    out = curation.denylist_filter(d, "text", DENY_TERMS)
    return out.select("doc_id", "source").orderBy("doc_id")


def q_fuzzy_decontaminate_docs(spark, sf_dir):
    """Fuzzy benchmark decontamination: every-50th document stands in
    as the benchmark suite; corpus docs whose word-3-gram Jaccard
    against any benchmark doc is >= 0.8 are flagged. The benchmark's
    LSH band table is broadcast, so the corpus probe is map-side; the
    oracle computes the exact cross Jaccard (LSH recall at 0.8 with
    128/32/4 is 1-5e-8, the minhash_lsh_pairs argument)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    out = curation.fuzzy_decontaminate(d, bench, "doc_id", "text", threshold=0.8)
    return out.orderBy("doc_id", "bench_id")


def q_lm_score_docs(spark, sf_dir):
    """CCNet-style unigram-LM perplexity signal: corpus MLE model fit
    in one tokenize pass (lazily checkpointed per-doc counts fan out to
    model / total / scoring join), per-doc mean token NLL. Empty/null
    texts carry no tokens and are excluded."""
    d = _t(spark, sf_dir, "documents")
    out = curation.lm_score(d, "doc_id", "text")
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


def q_classifier_score_docs(spark, sf_dir):
    """fastText-style hashed linear classifier inference as a pure
    narrow map — md5-bucket hashing trick + deterministic stand-in
    weights + sigmoid, all inside transform/aggregate higher-order
    functions: the executed plan has ZERO exchanges (plan-asserted in
    test_curation)."""
    d = _t(spark, sf_dir, "documents")
    out = curation.classifier_score(d, "doc_id", "text")
    return (
        out.withColumnRenamed("id", "doc_id")
        .where(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


def q_dsir_weights_docs(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): every-50th doc stands
    in as the target distribution; each doc's log weight is the sum of
    per-bucket log-ratios between the add-1-smoothed hashed
    unigram+bigram models of target vs corpus. Fit = two O(4096)
    partial-agg passes; scoring = zero-shuffle narrow map (the ratio
    table is a constant-folded array literal)."""
    d = _t(spark, sf_dir, "documents")
    target = d.where(F.col("doc_id") % 50 == 0)
    out = curation.dsir_weights(d, target, "doc_id", "text")
    return out.select(
        "doc_id", "n_grams", F.round("log_w", 6).alias("log_w")
    ).orderBy("doc_id")


def q_dsir_resample_docs(spark, sf_dir):
    """DSIR Gumbel-top-k resample: top 200 docs by log_w plus
    content-addressed Gumbel noise — selects ∝ importance weight
    without replacement, deterministically. Planned as
    TakeOrderedAndProject (partial per-partition top-n), not a global
    sort."""
    d = _t(spark, sf_dir, "documents")
    target = d.where(F.col("doc_id") % 50 == 0)
    return curation.dsir_resample(d, target, "doc_id", "text", n=200).orderBy("doc_id")


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints — SIGMOD'03
    scheme, k=12 char grams, window w=8, portable md5_32 hash."""
    d = _t(spark, sf_dir, "documents")
    fps = T.winnow_fingerprints(F.col("text"), 12, 8, algo="md5_32")
    return d.select(
        "doc_id",
        F.array_join(F.transform(fps, lambda x: x.cast("string")), "|").alias("fps"),
    ).orderBy("doc_id")


def q_winnow_pairs(spark, sf_dir):
    """Substring-level near-dup candidates: pairs sharing >= 10 winnow
    fingerprints (any shared substring of length >= k+w-1 = 19 yields a
    shared fingerprint)."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", F.explode(T.winnow_fingerprints(F.col("text"), 12, 8, algo="md5_32")).alias("fp")
    )
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 10)
        .orderBy("id_a", "id_b")
    )


def q_winnow_clusters_docs(spark, sf_dir):
    """Substring-level near-dup CLUSTERS: the winnow pair stage (>= 10
    shared fingerprints) closed transitively by connected components —
    the plagiarism-detection composition (shared-passage families, not
    just pairs). Oracle: the same pair CTE + recursive min-label reach."""
    from yadf_spark.operators import components

    pairs = q_winnow_pairs(spark, sf_dir).select("id_a", "id_b")
    return components.connected_components(pairs).orderBy("id")


def q_join_agg(spark, sf_dir):
    """Broadcast-join rollup: revenue per nation (dims broadcast)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("n_name")
    )


def q_lineitem_agg(spark, sf_dir):
    """TPC-H Q1-style aggregate (decimal-exact sums cast back to double)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_topk_orders_per_customer(spark, sf_dir):
    """Top-3 orders by price per customer (window top-k; custkey < 200
    bounds the driver-compare size). Deterministic price-then-key ties."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
        .orderBy("o_custkey", "rank")
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join: customers that never placed a large (>400k) order
    (the unrestricted variant is vacuous on this synthetic data — every
    customer has orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400_000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_revenue_rollup(spark, sf_dir):
    """ROLLUP aggregate: revenue by (status, priority), with subtotals
    and the grand total (grouping-set coverage)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def q_event_type_setops(spark, sf_dir):
    """Set operations over proper user subsets (modulo predicates keep
    the sets non-trivial — every user has every event type here):
    click-users(7k) INTERSECT view-users(7k+1) EXCEPT purchase-users(11k)."""
    e = _t(spark, sf_dir, "events")

    def users(t, mod, rem):
        return e.filter(
            (F.col("event_type") == t) & (F.col("event_id") % mod == rem)
        ).select("user_id")

    out = users("click", 7, 0).intersect(users("view", 7, 1)).subtract(users("purchase", 11, 0))
    return out.orderBy("user_id")


def q_order_cube(spark, sf_dir):
    """CUBE aggregate: order counts across every (status, priority)
    grouping-set combination."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def q_suppliers_with_cheap_parts(spark, sf_dir):
    """Left-semi join: suppliers in nations that have below-median-priced
    parts... kept simple: suppliers whose nationkey appears among
    region-1 nations (semi-join through a dimension)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_order_percentiles(spark, sf_dir):
    """Interpolated-percentile + correlation aggregates per priority
    (the continuous-quantile semantics DuckDB's quantile_cont shares)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("price_cust_corr"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def q_monthly_orders(spark, sf_dir):
    """Temporal rollup: order count + revenue per calendar month
    (date_trunc; timestamps compare via epoch micros like
    keep_first_per_key)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.unix_micros(
                F.date_trunc("month", F.col("o_orderdate")).cast("timestamp")
            ).alias("month_us")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .orderBy("month_us")
    )


def q_distinct_users(spark, sf_dir):
    """Exact distinct-count aggregates per event type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


def q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column (get_json_object — JVM-side Jackson path, no Python) and
    aggregate per event type. The extraction is a narrow map feeding a
    map-side partial agg; at 10^12 rows only (event_type, partials)
    cross the exchange."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_source_name_pairs(spark, sf_dir):
    """Edit-distance (Levenshtein) pairs over the source dimension —
    the fuzzy-name-match primitive of dedup over metadata columns.
    The dimension is tiny, so the pair space is enumerable exactly."""
    d = _t(spark, sf_dir, "documents").select("source").distinct()
    a = d.select(F.col("source").alias("src_a"))
    b = d.select(F.col("source").alias("src_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_a") < F.col("src_b"))
        .withColumn("dist", F.levenshtein("src_a", "src_b"))
        .filter(F.col("dist") <= 1)
        .orderBy("src_a", "src_b")
    )


def q_source_stats(spark, sf_dir):
    """Per-source rollup (min/max/count — exact aggregates)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.min(F.length("text").cast("long")).alias("min_len"),
            F.max(F.length("text").cast("long")).alias("max_len"),
        )
        .orderBy("source")
    )


def q_cc_components(spark, sf_dir):
    """Connected components (the pipeline's clustering stage,
    operators/components.py) on a deterministic chain graph: documents
    with doc_id % 10 in {0,1,2} link to doc_id+1, giving 4-node chains
    whose transitive closure the assignment must collapse. Oracle: a
    DuckDB recursive CTE computing per-node component minimum — this
    upgrades the CC operator itself from pytest-only to oracle-checked."""
    from yadf_spark.operators import components

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (
        d.filter((F.col("doc_id") % 10) < 3)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    )
    return components.connected_components(e).orderBy("id")


def _images_parquet(n: int, seed: int = 42) -> str:
    """The deterministic image fixture written ONCE to a parquet file
    both engines read — Spark runs the ladder over it, DuckDB groups the
    same blobs directly (it reads parquet binary natively), which is
    what upgrades the images queries from rows-only to oracle-checked
    (VERDICT r2 item 4). Pure pandas/pyarrow (no SparkSession) so the
    file exists no matter whether the driver materializes the Spark
    query or the oracle SQL first; os.replace makes the write atomic
    against concurrent callers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadf_spark.fixtures import images as img

    path = f"/tmp/yadf_contract_images_{n}_{seed}.parquet"
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.Table.from_pandas(img.images_pdf(n, seed=seed)), tmp)
        os.replace(tmp, path)
    return path


def q_images_exact_dedup(spark, sf_dir):
    """Exact-dup groups over the synthetic image+caption table: the full
    ladder (size -> prefix -> suffix -> full hash) must partition the
    binary payloads exactly like content equality — the oracle groups
    the same parquet's blobs directly, so group membership (not the
    algo-specific group key) is the compared surface."""
    df = spark.read.parquet(_images_parquet(256))
    return (
        exact.exact_dup_groups(df)
        .select(F.array_join("members", "|").alias("members"), "n")
        .orderBy("members")
    )


def q_source_quality_profile(spark, sf_dir):
    """Per-source quality quartiles — the profile that decides which
    sources to cap or drop. Quality scores are 6-dp by construction, so
    they scale to exact integers (x1e6) whose interpolated percentiles
    are dyadic (.25/.5/.75) — bit-exact across engines with NO rounding
    of the percentile itself. One partial-agg shuffle; the percentile
    aggregate combines map-side."""
    d = _t(spark, sf_dir, "documents")
    q6 = F.round(T.quality_score(F.col("text")) * 1e6, 0).cast("long")
    return (
        d.select("source", q6.alias("q6"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.percentile("q6", F.lit(0.25)).alias("q25"),
            F.percentile("q6", F.lit(0.5)).alias("q50"),
            F.percentile("q6", F.lit(0.75)).alias("q75"),
        )
        .orderBy("source")
    )


def q_char_class_stats(spark, sf_dir):
    """Character-class distribution + entropy per document — the cheap
    gibberish / encoding-noise detector (zero-shuffle codegen column
    arithmetic; DuckDB replays with global regexp_replace)."""
    d = _t(spark, sf_dir, "documents")
    return curation.char_class_stats(d, "doc_id", "text").orderBy("doc_id")


def q_token_histogram(spark, sf_dir):
    """Corpus token-count distribution in decade bins — the length
    histogram every curation run eyeballs before picking min/max-length
    gates. Pure partial-agg groupBy over a derived bin column."""
    d = _t(spark, sf_dir, "documents")
    bin_col = (F.floor(T.token_count(F.col("text")) / 10) * 10).cast("long")
    return (
        d.groupBy(bin_col.alias("bin"))
        .agg(F.count("*").alias("n"))
        .orderBy("bin")
    )


def _audio_near_dup_parquet(n_bases: int = 12) -> str:
    """Fixture for the audio near-dup query: amplitude-modulated clips
    where even-numbered bases also get two near-identical variants
    (small extra noise; amplitude quantization) and odd bases are
    singletons. Stored truth: each clip's energy fingerprint and its
    eight 8-bit blocks, computed single-process by the SAME pure kernel
    (``audio.audio_fingerprint_bits``) the distributed path applies —
    DuckDB then replays the multi-block candidate rule (a pair shares a
    2-of-8-block key iff >= 2 blocks are equal) and the Hamming filter
    in SQL."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadf_spark.operators import audio as au

    path = f"/tmp/yadf_contract_audio_neardup8c2_{n_bases}.parquet"
    if not os.path.exists(path):
        ids, payloads, afps = [], [], []

        def add(cid: str, samples: np.ndarray, rate: int) -> None:
            ids.append(cid)
            payloads.append(au.encode_fake_audio(samples, rate))
            afps.append(au.audio_fingerprint_bits(samples))

        for base in range(n_bases):
            rng = np.random.RandomState(7_000 + base)
            rate = 16_000
            n = 48_000 + base * 1_000
            amps = rng.uniform(500.0, 12_000.0, size=64)
            amp = np.empty(n)
            for w, ix in enumerate(np.array_split(np.arange(n), 64)):
                amp[ix] = amps[w]
            t = np.arange(n, dtype=np.float64) / rate
            sig = amp * np.sin(2.0 * np.pi * 440.0 * t) + rng.randint(-50, 51, size=n)
            clip = np.clip(sig, -32768, 32767).astype(np.int16)[:, None]
            add(f"snd-{base:04d}", clip, rate)
            if base % 2 == 0:
                noisy = np.clip(
                    clip[:, 0].astype(np.int32)
                    + np.random.RandomState(8_000 + base).randint(-100, 101, size=n),
                    -32768, 32767,
                ).astype(np.int16)[:, None]
                add(f"snd-{base:04d}-noise", noisy, rate)
                quant = (clip[:, 0] // 8 * 8).astype(np.int16)[:, None]
                add(f"snd-{base:04d}-quant", quant, rate)
        bands = {f"band{i}": [] for i in range(8)}
        for afp in afps:
            u = afp & 0xFFFFFFFFFFFFFFFF
            for i in range(8):
                bands[f"band{i}"].append((u >> (8 * i)) & 0xFF)
        table = pa.table(
            {
                "audio_id": pa.array(ids, pa.string()),
                "bytes": pa.array(payloads, pa.binary()),
                "afp": pa.array(afps, pa.int64()),
                **{k: pa.array(v, pa.int64()) for k, v in bands.items()},
            }
        )
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


def q_audio_near_dup(spark, sf_dir):
    """Audio near-duplicate pairs: energy fingerprint → Hamming bands →
    the shared salted/capped bucket expansion → exact-Hamming verify
    (JVM bit_count). Oracle-checked: DuckDB replays the band-OR
    candidate join + Hamming filter over the fixture's stored-truth
    fingerprints (same pure kernel, run single-process)."""
    from yadf_spark.operators import audio as au

    df = spark.read.parquet(_audio_near_dup_parquet()).select("audio_id", "bytes")
    return au.audio_near_dup_pairs(df, max_hamming=6).orderBy("id_a", "id_b")


def _doc_clusters(spark, sf_dir):
    """The shared caption near-dup closure: MinHash+LSH candidates at
    the default LshConfig, exact-Jaccard verified at >= 0.8, contracted
    to ``(id, cluster_id)`` by connected components. Every cluster-level
    contract query (clusters, dedup rate, representatives, safe split,
    size histogram, leakage audit) derives from this one pipeline so the
    oracle's recursive-CTE closure replays them all from one edge set."""
    from yadf_spark.operators import components

    d = _t(spark, sf_dir, "documents")
    cfg = LshConfig()
    cand = minhash.minhash_candidates(d, cfg, id_col="doc_id", text_col="text")
    jac = minhash.exact_jaccard(cand, d, "doc_id", "text", k=cfg.shingle_k)
    edges = jac.filter(F.col("jaccard") >= 0.8).select("id_a", "id_b")
    return components.connected_components(edges)


def q_near_dup_clusters_docs(spark, sf_dir):
    """Caption near-dup CLUSTERS end-to-end, fully oracle-checked: the
    MinHash+LSH candidate stage (verified at exact Jaccard >= 0.8, same
    config as minhash_lsh_pairs) feeds connected components, emitting
    ``(id, cluster_id)`` — the pipeline's pairs->groups contraction
    (reference analog: the dup-group Bag materialization,
    src/bag.rs:21-44) replayed in SQL as all-pairs Jaccard edges plus a
    recursive-CTE min-label closure."""
    return _doc_clusters(spark, sf_dir).orderBy("id")


def q_cluster_quality_docs(spark, sf_dir):
    """Clustering-evaluation report (pair-confusion + Rand/ARI) of the
    caption near-dup closure against the exact-duplicate truth labeling
    (md5(text) groups) — the planted-truth quality gate made a
    first-class distributed operator: contingency cells only, nothing
    O(n) on the driver (reference analog: gen-corpus.py's manifest
    check of planted dup groups). Evaluated over the clustered
    (edge-bearing) docs; the oracle replays cells, marginals, and both
    indices relationally on the same recursive-CTE closure."""
    from yadf_spark.operators import evaluation

    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    truth = d.select(F.col("doc_id").alias("id"), F.md5("text").alias("true_cluster"))
    return evaluation.cluster_quality(clusters, truth)


def q_cluster_quality_ext_docs(spark, sf_dir):
    """Element/entropy clustering report over the same closure-vs-md5
    contingency as cluster_quality_docs: purity, B-cubed
    precision/recall/F1 (size-weighted per-item averages — a viral
    mis-merge can't hide behind pair amortization) and
    homogeneity/completeness/V-measure via the log-moment identities.
    Same O(cells) shape: marginals join back to the cells, never the
    corpus; the oracle replays every sum and both entropy reductions
    relationally."""
    from yadf_spark.operators import evaluation

    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    truth = d.select(F.col("doc_id").alias("id"), F.md5("text").alias("true_cluster"))
    return evaluation.cluster_quality_extended(clusters, truth)


def q_dedup_rate_by_source(spark, sf_dir):
    """Per-source duplication report — the dashboard row a corpus
    pipeline publishes after a dedup run: how many of each source's
    docs sit in a near-dup cluster. Every connected-components node is
    edge-bearing (cluster size >= 2 by construction), so 'clustered'
    IS 'duplicated'; the rate join is a broadcast of the tiny per-source
    aggregate, corpus side never reshuffles."""
    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    marked = d.select("doc_id", "source").join(
        clusters.select(F.col("id").alias("doc_id")).withColumn("dup", F.lit(1)),
        "doc_id",
        "left",
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("dup").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate", F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
        )
        .orderBy("source")
    )


def q_near_dup_representatives(spark, sf_dir):
    """Survivor selection over the near-dup clusters: keep each
    cluster's highest-quality member (quality = caption length, ties →
    smallest doc_id) — the canonicalization step downstream of
    clustering (reference analog: examples/clean.rs keep-oldest,
    generalized to a quality axis). Single partial-agg shuffle via
    ``min_by`` over a (-quality, id) struct; the oracle replays the
    policy as max-quality filter + min-id."""
    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    reps = curation.cluster_representatives(
        d, clusters, id_col="doc_id", quality_col=F.length("text")
    )
    return reps.orderBy("cluster_id")


def _doc_edges(spark, sf_dir, subset=None):
    """Verified (jaccard >= 0.8) near-dup edges, optionally over a doc
    subset — the edge feed both the batch and incremental cluster
    queries share."""
    d = _t(spark, sf_dir, "documents")
    if subset is not None:
        d = d.filter(subset)
    cfg = LshConfig()
    cand = minhash.minhash_candidates(d, cfg, id_col="doc_id", text_col="text")
    jac = minhash.exact_jaccard(cand, d, "doc_id", "text", k=cfg.shingle_k)
    return jac.filter(F.col("jaccard") >= 0.8).select("id_a", "id_b")


def q_incremental_clusters_docs(spark, sf_dir):
    """Incremental cluster maintenance gate: yesterday's corpus (even
    doc_ids) is clustered batch-style; today's batch (odd doc_ids)
    contributes only the verified edges touching an odd endpoint, folded
    in by ``merge_assignments`` — old clusters contract to their reps,
    components runs on the batch-sized reduced graph only. Even-even
    edges are NOT re-fed: they were all discovered yesterday (exact-
    Jaccard verification is deterministic, LSH recall ~1 at 0.8), so the
    merged assignment must equal the full-corpus closure — which is
    exactly what the oracle computes (same recursive CTE as
    near_dup_clusters_docs)."""
    from yadf_spark.operators import components

    yesterday = components.connected_components(
        _doc_edges(spark, sf_dir, subset=F.col("doc_id") % 2 == 0)
    )
    batch_edges = _doc_edges(spark, sf_dir).filter(
        (F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)
    )
    return components.merge_assignments(yesterday, batch_edges).orderBy("id")


def q_cluster_safe_split_docs(spark, sf_dir):
    """Leakage-guarded 80/10/10 split: the md5 bucket is keyed on the
    near-dup CLUSTER id (own id for singletons), so a document and its
    near-twin can never straddle train and val — the contamination mode
    an id-keyed hash_split silently allows. Same determinism guarantees
    as hash_split; the only extra cost is one broadcastable join against
    the (dup-members-only) cluster table."""
    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    out = curation.cluster_safe_split(
        d, clusters, "doc_id", {"train": 80, "val": 10, "test": 10}
    )
    return out.select(
        "doc_id", F.col("split_key").cast("long").alias("split_key"), "bucket", "split"
    ).orderBy("doc_id")


def q_split_leakage_report(spark, sf_dir):
    """The audit that motivates cluster_safe_split: assign the NAIVE
    id-keyed 80/10/10 split, then count near-dup clusters by how many
    distinct splits their members touch. Rows with n_splits > 1 are
    train/eval contamination; the same report over cluster_safe_split
    output is all-n_splits=1 by construction (pytest-gated)."""
    d = _t(spark, sf_dir, "documents")
    clusters = _doc_clusters(spark, sf_dir)
    naive = curation.hash_split(d, "doc_id", {"train": 80, "val": 10, "test": 10})
    rep = curation.split_leakage_report(clusters, naive, "doc_id")
    return rep.orderBy("n_splits")


def q_cluster_size_histogram(spark, sf_dir):
    """Dedup observability: the cluster-size distribution (how viral is
    the worst near-dup family?). Two partial-agg groupBys over the
    cluster table — the dashboard number that decides salting caps and
    survivor policy at production scale."""
    clusters = _doc_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q_phash_band_stats(spark, sf_dir):
    """LSH skew observability over the image phash Hamming bands (the
    pipeline's stage-1 prefilter, NearDupConfig 4 bands x 16 bits): per
    band, how many buckets exist, how many are candidate-bearing
    (size >= 2), the largest bucket, and the candidate-pair volume
    sum(s*(s-1)/2). These are THE numbers that size the salting cap and
    predict stage-2 load at production scale — published per run, never
    guessed. Pure partial-agg groupBys over (band_idx, band_hash); the
    oracle replays band extraction with the same shift/mask bit ops."""
    df = spark.read.parquet(_images_parquet(256))
    bands = minhash.hash_bands(df, "image_id", "phash", bands=4, band_bits=16)
    buckets = bands.groupBy("band_idx", "band_hash").agg(F.count("*").alias("s"))
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(F.col("s") >= 2, 1).otherwise(0)).alias("n_dup_buckets"),
            F.max("s").alias("max_bucket"),
            F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("long").alias("n_cand_pairs"),
        )
        .orderBy("band_idx")
    )


def _image_truth_pairs_parquet(n: int) -> str:
    """The fixture's PLANTED duplicate pairs, written once to parquet.
    The flagship pipeline query is checked against their transitive
    closure — a planted-truth gate, not an algorithmic replay: it
    requires cluster-level recall AND precision of exactly 1.0 at the
    default config (the north rule's 'matching the reference's cluster
    assignments' criterion, strictly stronger than its >= 0.99 bound)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadf_spark.fixtures import images as img

    path = f"/tmp/yadf_contract_truth_pairs_{n}.parquet"
    if not os.path.exists(path):
        pairs = sorted(img.truth_dup_pairs(n))
        table = pa.table(
            {
                "id_a": pa.array([a for a, _ in pairs], pa.string()),
                "id_b": pa.array([b for _, b in pairs], pa.string()),
            }
        )
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


def q_export_shard_stats(spark, sf_dir):
    """Shard-balance audit for the WebDataset export: per tar shard
    (the SAME content-addressed ``md5_bucket(id, salt='wds')`` the
    writer in ``sinks/webdataset.py`` assigns), row count, total payload
    bytes, and the largest member — the numbers that tell you whether
    the export's one payload shuffle is balanced BEFORE you move 100 TB
    of blobs. Pure partial-agg rollup over (8-byte shard, byte length);
    payloads never shuffle for the audit itself. Oracle replays the md5
    bucket arithmetic bit-for-bit (the hash_split pattern)."""
    df = spark.read.parquet(_images_parquet(256))
    shard = curation.md5_bucket(F.col("image_id"), 8, salt="wds")
    return (
        df.select(shard.alias("shard"), F.length("bytes").cast("long").alias("_nb"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_nb").alias("total_bytes"),
            F.max("_nb").alias("max_bytes"),
        )
        .orderBy("shard")
    )


def q_images_ingest_gate(spark, sf_dir):
    """Fuzzy IMAGE ingest gate over the planted fixture: the 256-image
    table splits by numeric id into a batch (id % 4 == 0) and a history
    corpus, pipeline.near_dup_gate matches batch-vs-history (two-sided
    band join + full-content-hash band, caption/PSNR verify), and each
    batch row reports whether it gated. Oracle: a batch image is
    matched iff its planted truth cluster (transitive closure of the
    truth pairs) contains at least one history member — the same
    closure the flagship images_near_dup_clusters oracle trusts."""
    from yadf_spark.fixtures import images as img
    from yadf_spark.operators import pipeline as pl

    df = pl.prepare_images(img.images_df(spark, 256, seed=42))
    num = F.substring("image_id", 5, 9).cast("int")
    batch = df.filter(num % 4 == 0)
    history = df.filter(num % 4 != 0)
    gate = pl.near_dup_gate(batch, history)
    matched = gate["matched_ids"].withColumn("matched", F.lit(True))
    return (
        batch.select("image_id")
        .join(matched, "image_id", "left")
        .select("image_id", F.coalesce("matched", F.lit(False)).alias("matched"))
        .orderBy("image_id")
    )


def q_images_dedup_savings(spark, sf_dir):
    """Dedup ROI report: per duplicate cluster, member count, total
    payload bytes, bytes kept by the survivor (highest w*h, ties →
    smallest id — the images_representatives policy), and bytes saved —
    the number that justifies the dedup job's own cost at corpus scale.
    Narrow shape: clusters join byte LENGTHS (never payloads), one
    partial-agg groupBy per rollup. Oracle: the planted-truth closure
    with the same arithmetic over the same parquet."""
    from yadf_spark.fixtures import images as img
    from yadf_spark.operators import pipeline as pl

    df = img.images_df(spark, 256, seed=42)
    out = pl.near_dup_pipeline(df)
    clusters = out["clusters"]
    sz = df.select("image_id", F.length("bytes").cast("long").alias("nbytes"))
    agg = (
        clusters.join(sz, "image_id")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), F.sum("nbytes").alias("bytes_total"))
    )
    reps = curation.cluster_representatives(
        df,
        clusters,
        id_col="image_id",
        quality_col=F.col("w").cast("long") * F.col("h"),
        cluster_member_col="image_id",
    )
    kept = (
        reps.select("cluster_id", F.col("rep_id").alias("image_id"))
        .join(sz, "image_id")
        .select("cluster_id", F.col("nbytes").alias("bytes_kept"))
    )
    return (
        agg.join(kept, "cluster_id")
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            "n_members",
            "bytes_total",
            "bytes_kept",
            (F.col("bytes_total") - F.col("bytes_kept")).alias("bytes_saved"),
        )
        .orderBy("cluster_id")
    )


def q_images_near_dup_clusters(spark, sf_dir):
    """Full near-dup pipeline (phash bands + MinHash LSH + PSNR verify +
    connected components) over the synthetic image table. Oracle-checked
    against the planted truth's transitive closure (recursive CTE +
    singleton backfill) — see ``_image_truth_pairs_parquet``."""
    from yadf_spark.fixtures import images as img
    from yadf_spark.operators import pipeline as pl

    df = img.images_df(spark, 256, seed=42)
    out = pl.near_dup_pipeline(df)
    return out["clusters"].orderBy("image_id")


def q_images_representatives(spark, sf_dir):
    """Survivor selection over the IMAGE pipeline's clusters: keep each
    cluster's highest-resolution member (quality = w*h pixels, ties →
    smallest image_id) — the keep-best-copy policy an image corpus
    actually wants (reference analog: examples/clean.rs keep-oldest,
    re-ranked on a quality axis). Oracle: the planted truth closure
    joined to the same images parquet, max-filter + min-id."""
    from yadf_spark.fixtures import images as img
    from yadf_spark.operators import pipeline as pl

    df = img.images_df(spark, 256, seed=42)
    out = pl.near_dup_pipeline(df)
    reps = curation.cluster_representatives(
        df,
        out["clusters"],
        id_col="image_id",
        quality_col=F.col("w").cast("long") * F.col("h"),
        cluster_member_col="image_id",
    )
    return reps.orderBy("cluster_id")


def _flip_images_parquet(n_bases: int = 48) -> str:
    """Fixture for flip/rotation-invariant near-dup: deterministic
    images with 8-multiple dims (where the dihedral bit-permutation is
    exact); every 4th base gains a mirrored copy, every 8th a
    180-rotated copy, and every 6th a 90-rotated copy (w/h swap — the
    full-D4 case the Klein subgroup missed). Stored truth: each image's
    four 16-bit bands over the canonical dihedral phash, computed
    single-process by the SAME pure kernels (codec.perceptual_hash ->
    multimodal.canonical_phash_kernel) the distributed path applies —
    DuckDB replays the band-OR join."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yadf_spark.fixtures import codec
    from yadf_spark.operators import multimodal as mm

    # _d4 suffix: the canonical kernel widened from the Klein 4-group to
    # full D4 — a stale 4-orbit stored-truth file must never be reused
    path = f"/tmp/yadf_contract_flip_images_d4_{n_bases}.parquet"
    if not os.path.exists(path):
        ids: list[str] = []
        payloads: list[bytes] = []
        phashes: list[int] = []

        def add(iid: str, px) -> None:
            px = np.ascontiguousarray(px)
            ids.append(iid)
            payloads.append(codec.encode_png(px))
            phashes.append(codec.perceptual_hash(px))

        for i in range(n_bases):
            rng = np.random.RandomState(9_000 + i)
            h, w = 8 * rng.randint(4, 9), 8 * rng.randint(4, 9)
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            add(f"base-{i:04d}", px)
            if i % 4 == 0:
                add(f"flip-{i:04d}", px[:, ::-1])
            if i % 8 == 0:
                add(f"rot-{i:04d}", px[::-1, ::-1])
            if i % 6 == 0:
                add(f"rot90-{i:04d}", px.transpose(1, 0, 2)[::-1, :, :])
        canon = mm.canonical_phash_kernel(np.array(phashes, dtype=np.int64))
        cu = canon.view(np.uint64)
        cols = {
            "image_id": pa.array(ids, pa.string()),
            "bytes": pa.array(payloads, pa.binary()),
        }
        for j in range(4):
            cols[f"band{j}"] = pa.array(
                ((cu >> np.uint64(16 * j)) & np.uint64(0xFFFF)).astype(np.int64)
            )
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, path)
    return path


def q_images_flip_near_dup(spark, sf_dir):
    """Mirror/rotation-invariant near-dup candidates: decode -> phash ->
    canonical dihedral phash (orbit minimum over the 8 D4 bit
    permutations — no extra decode per transform) -> 4x16-bit bands ->
    the shared salted bucket expansion. Catches mirrored AND 90/180/270-
    rotated reposts the plain phash bands miss. The bands are the
    pipeline's own (``candidate_buckets`` under ``flip_invariant``; the
    fixture has no captions, so no MinHash bands); oracle replays the
    band-OR join over stored-truth bands from the same pure kernels."""
    from yadf_spark.config import NearDupConfig
    from yadf_spark.operators import pipeline as pl

    df = spark.read.parquet(_flip_images_parquet()).select("image_id", "bytes")
    bands = pl.candidate_buckets(pl.prepare_images(df), NearDupConfig(flip_invariant=True))
    return minhash.candidate_pairs_from_buckets(bands).orderBy("id_a", "id_b")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the staged dedup ladder assignment on sf0.001."""
    return q_ladder_assignment(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION PLAN (the driver's correctness sweep checks the FIRST 50
    # entries only; 92 exist, so coverage rotates round-by-round):
    #   - Rounds 1-4 gave green correctness rows to 70 of the queries that
    #     remain; the other embedding/ANN queries (pq_codes among them,
    #     round 4's one red row) left with operators/similarity.py, and
    #     the retrieval, temporal, BPE, URL/HTML, image-feature, video
    #     and audio-feature queries left with their operators.
    #   - Round 5 window (entries 1-50 below): the 22 never-checked
    #     queries (curation/mix/dsir/vocab/tfidf/denylist/fuzzy-
    #     decontam, C4, spans, round-4's cluster_quality_docs and
    #     round-5's new cluster_quality_ext_docs), then 18 durability
    #     re-confirmations drawn from the OLDEST (round-1) greens in
    #     their original order, then the first ten remaining round-4
    #     greens.
    #     After this round every contract query has at least one green
    #     correctness row.
    #   - denylist_hits_docs enters the window with its matched_terms
    #     array comma-joined: the sweep's canonicalizer crashes on
    #     array columns, so it was fixed BEFORE its first sweep
    #     (VERDICT r4 item 2).
    #   - The remaining previously-green queries sit at the back in
    #     their original relative order.
    return {
        # -- round-5 window: never driver-checked first -------------------
        "cluster_size_histogram": q_cluster_size_histogram,
        "c4_clean_docs": q_c4_clean_docs,
        "curation_pipeline_docs": q_curation_pipeline_docs,
        "repeated_spans_docs": q_repeated_spans_docs,
        "strip_spans_docs": q_strip_spans_docs,
        "shuffle_shards_docs": q_shuffle_shards_docs,
        "quantile_filter_docs": q_quantile_filter_docs,
        "source_overlap": q_source_overlap,
        "vocab_top_tokens": q_vocab_top_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "lm_score_docs": q_lm_score_docs,
        "mix_weights_sources": q_mix_weights_sources,
        "mix_sampled_docs": q_mix_sampled_docs,
        "denylist_hits_docs": q_denylist_hits_docs,
        "denylist_clean_docs": q_denylist_clean_docs,
        "fuzzy_decontaminate_docs": q_fuzzy_decontaminate_docs,
        "classifier_score_docs": q_classifier_score_docs,
        "dsir_weights_docs": q_dsir_weights_docs,
        "dsir_resample_docs": q_dsir_resample_docs,
        "json_props_stats": q_json_props_stats,
        "cluster_quality_docs": q_cluster_quality_docs,
        # round-5 addition: element/entropy clustering report
        "cluster_quality_ext_docs": q_cluster_quality_ext_docs,
        # -- 18 durability re-confirmations (oldest greens, round 1) ------
        "size_groups": q_size_groups,
        "rfactor_under": q_rfactor_under,
        "rfactor_equal": q_rfactor_equal,
        "rfactor_over": q_rfactor_over,
        "size_filter": q_size_filter,
        "regex_filter": q_regex_filter,
        "glob_filter": q_glob_filter,
        "keep_first_per_key": q_keep_first_per_key,
        "dedup_by_key": q_dedup_by_key,
        "prefix_hash_groups": q_prefix_hash_groups,
        "suffix_hash_groups": q_suffix_hash_groups,
        "full_hash_groups": q_full_hash_groups,
        "naive_full_hash_groups": q_naive_full_hash_groups,
        "ladder_assignment": q_ladder_assignment,
        "ladder_groups": q_ladder_groups,
        "scan_stats": q_scan_stats,
        "exact_dedup_docs": q_exact_dedup_docs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        # -- round-4 window (all green r04), original order; the first ---
        # -- ten entries close the round-5 window -------------------------
        "images_exact_dedup": q_images_exact_dedup,
        "images_near_dup_clusters": q_images_near_dup_clusters,
        "images_representatives": q_images_representatives,
        "images_ingest_gate": q_images_ingest_gate,
        "images_dedup_savings": q_images_dedup_savings,
        "export_shard_stats": q_export_shard_stats,
        "images_flip_near_dup": q_images_flip_near_dup,
        "phash_band_stats": q_phash_band_stats,
        "audio_near_dup": q_audio_near_dup,
        "winnow_clusters_docs": q_winnow_clusters_docs,
        "cc_components": q_cc_components,
        "near_dup_clusters_docs": q_near_dup_clusters_docs,
        "near_dup_representatives": q_near_dup_representatives,
        "dedup_rate_by_source": q_dedup_rate_by_source,
        "cluster_safe_split_docs": q_cluster_safe_split_docs,
        "incremental_clusters_docs": q_incremental_clusters_docs,
        "split_leakage_report": q_split_leakage_report,
        # -- previously driver-green (rounds 1-3), original order ---------
        "cross_corpus_near_dup_pairs": q_cross_corpus_near_dup_pairs,
        "jaccard_threshold_sweep": q_jaccard_threshold_sweep,
        "normalized_dedup_docs": q_normalized_dedup_docs,
        "edit_near_dup_pairs": q_edit_near_dup_pairs,
        "token_stats": q_token_stats,
        "token_histogram": q_token_histogram,
        "char_class_stats": q_char_class_stats,
        "source_quality_profile": q_source_quality_profile,
        "quality": q_quality,
        "language_id": q_language_id,
        "fingerprint": q_fingerprint,
        "hash_split_docs": q_hash_split_docs,
        "stratified_sample_docs": q_stratified_sample_docs,
        "pack_sequences_docs": q_pack_sequences_docs,
        "cap_per_source": q_cap_per_source,
        "repetition_features": q_repetition_features,
        "decontaminate_docs": q_decontaminate_docs,
        "pii_redaction": q_pii_redaction,
        "chunk_docs": q_chunk_docs,
        "dedup_lines_docs": q_dedup_lines_docs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "join_agg": q_join_agg,
        "lineitem_agg": q_lineitem_agg,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "customers_without_orders": q_customers_without_orders,
        "revenue_rollup": q_revenue_rollup,
        "order_cube": q_order_cube,
        "suppliers_semi_join": q_suppliers_with_cheap_parts,
        "event_type_setops": q_event_type_setops,
        "order_percentiles": q_order_percentiles,
        "monthly_orders": q_monthly_orders,
        "distinct_users": q_distinct_users,
        "source_name_pairs": q_source_name_pairs,
        "source_stats": q_source_stats,
    }


def oracle_sql() -> dict[str, str]:
    lang_scores = {
        lang: (
            "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            f"t -> t IN ({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in T.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS) + ")"
    lang_case = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in T.LANG_MARKERS
    )
    return {
        "size_groups": """
            SELECT CAST(length(text) AS BIGINT) AS size,
                   array_to_string(list_sort(list(doc_id)), '|') AS members, count(*) AS n
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY size""",
        "rfactor_under": """
            SELECT CAST(length(text) AS BIGINT) AS size, count(*) AS n
            FROM documents GROUP BY 1 HAVING count(*) < 3 ORDER BY size""",
        "rfactor_equal": """
            SELECT CAST(length(text) AS BIGINT) AS size, count(*) AS n
            FROM documents GROUP BY 1 HAVING count(*) = 1 ORDER BY size""",
        "rfactor_over": """
            SELECT CAST(length(text) AS BIGINT) AS size, count(*) AS n
            FROM documents GROUP BY 1 HAVING count(*) > 2 ORDER BY size""",
        "size_filter": """
            SELECT doc_id, CAST(length(text) AS BIGINT) AS size FROM documents
            WHERE length(text) BETWEEN 150 AND 300 ORDER BY doc_id""",
        "regex_filter": """
            SELECT doc_id, source FROM documents
            WHERE regexp_matches(source, '^src[0-9]$') ORDER BY doc_id""",
        "glob_filter": """
            SELECT doc_id, source FROM documents
            WHERE source LIKE 'src1%' ORDER BY doc_id""",
        "keep_first_per_key": """
            SELECT user_id, event_id AS first_event, epoch_us(ts) AS ts_us
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id""",
        "dedup_by_key": """
            SELECT user_id, event_type, min(event_id) AS keeper, count(*) AS n
            FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""",
        "prefix_hash_groups": """
            SELECT md5(CAST(length(text) AS VARCHAR) || ':' || left(text, 12)) AS p_hash,
                   array_to_string(list_sort(list(doc_id)), '|') AS members, count(*) AS n
            FROM documents GROUP BY 1 ORDER BY p_hash""",
        "suffix_hash_groups": """
            SELECT md5(right(text, 12)) AS s_hash,
                   array_to_string(list_sort(list(doc_id)), '|') AS members, count(*) AS n
            FROM documents GROUP BY 1 ORDER BY s_hash""",
        "full_hash_groups": """
            WITH planted AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0)
            SELECT md5(text) AS f_hash,
                   array_to_string(list_sort(list(doc_id)), '|') AS members, count(*) AS n
            FROM planted GROUP BY 1 HAVING count(*) > 1 ORDER BY f_hash""",
        "naive_full_hash_groups": """
            SELECT sha256(text) AS f_hash,
                   array_to_string(list_sort(list(doc_id)), '|') AS members, count(*) AS n
            FROM documents GROUP BY 1 ORDER BY f_hash""",
        "ladder_assignment": f"""
            WITH {LADDER_CTE}
            SELECT id AS doc_id, size, group_key, stage FROM ladder ORDER BY doc_id""",
        "ladder_groups": f"""
            WITH {LADDER_CTE}
            SELECT group_key, array_to_string(list_sort(list(id)), '|') AS members,
                   count(*) AS n
            FROM ladder GROUP BY 1 ORDER BY group_key""",
        "scan_stats": f"""
            WITH {LADDER_CTE},
            g AS (SELECT group_key, count(*) AS n FROM ladder GROUP BY 1)
            SELECT (SELECT count(*) FROM ladder) AS scanned,
                   (SELECT count(*) FROM ladder WHERE stage = 'size') AS size,
                   (SELECT count(*) FROM ladder WHERE stage = 'prefix') AS prefix,
                   (SELECT count(*) FROM ladder WHERE stage = 'suffix') AS suffix,
                   (SELECT count(*) FROM ladder WHERE stage = 'full') AS "full",
                   (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) FROM g WHERE n > 1) AS duplicates,
                   (SELECT count(*) FROM g WHERE n > 1) AS dup_groups""",
        "exact_dedup_docs": """
            SELECT min(doc_id) AS keeper, count(*) AS n
            FROM documents GROUP BY text ORDER BY keeper""",
        "normalized_dedup_docs": """
            WITH v AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, upper(text) || '  !!'
              FROM documents WHERE doc_id % 20 = 0),
            n AS (SELECT doc_id,
                         md5(trim(regexp_replace(regexp_replace(lower(text),
                             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
                  FROM v)
            SELECT fp, min(doc_id) AS keeper,
                   array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), '|')
                     AS members,
                   count(*) AS n
            FROM n GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
        "minhash_lsh_pairs": f"""
            WITH {SHINGLE_CTE}
            SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",
        "cross_corpus_near_dup_pairs": f"""
            WITH {SHINGLE_CTE}
            SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS new_id,
                   CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS hist_id,
                   jaccard
            FROM jac
            WHERE jaccard >= 0.8 AND ((id_a % 5 = 0) <> (id_b % 5 = 0))
            ORDER BY new_id, hist_id""",
        "jaccard_threshold_sweep": f"""
            WITH {SHINGLE_CTE},
            t(threshold) AS (VALUES (CAST(0.8 AS DOUBLE)), (CAST(0.85 AS DOUBLE)),
                                    (CAST(0.9 AS DOUBLE)), (CAST(0.95 AS DOUBLE)),
                                    (CAST(1.0 AS DOUBLE))),
            p AS (SELECT jaccard FROM jac WHERE jaccard >= 0.8)
            SELECT threshold,
                   CAST(sum(CASE WHEN p.jaccard >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pairs
            FROM t, p GROUP BY threshold ORDER BY threshold""",
        "token_stats": """
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_actual
            FROM documents ORDER BY doc_id""",
        "token_histogram": """
            SELECT CAST(floor(len(regexp_split_to_array(trim(text), '\\s+')) / 10)
                        * 10 AS BIGINT) AS bin,
                   count(*) AS n
            FROM documents GROUP BY 1 ORDER BY bin""",
        # class counts via length-after-global-regexp-delete, entropy in
        # natural log with a fixed 4-term summation order (round 6).
        "char_class_stats": """
            WITH c AS (
              SELECT doc_id, length(text) AS n,
                     length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS a,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS d,
                     length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS s
              FROM documents)
            SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
                   CAST(a AS BIGINT) AS n_alpha, CAST(d AS BIGINT) AS n_digit,
                   CAST(s AS BIGINT) AS n_space,
                   CAST(n - a - d - s AS BIGINT) AS n_other,
                   round(CASE WHEN n = 0 THEN 0.0 ELSE
                     (CASE WHEN a > 0 THEN -(a * 1.0 / n) * ln(a * 1.0 / n) ELSE 0.0 END)
                   + (CASE WHEN d > 0 THEN -(d * 1.0 / n) * ln(d * 1.0 / n) ELSE 0.0 END)
                   + (CASE WHEN s > 0 THEN -(s * 1.0 / n) * ln(s * 1.0 / n) ELSE 0.0 END)
                   + (CASE WHEN n - a - d - s > 0 THEN
                        -((n - a - d - s) * 1.0 / n) * ln((n - a - d - s) * 1.0 / n)
                      ELSE 0.0 END) END, 6) AS class_entropy
            FROM c ORDER BY doc_id""",
        "quality": f"""
            WITH f AS (
              SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     t -> t IN ({STOP_SQL}))) AS BIGINT) AS n_stop,
                CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
                CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS squeezed
              FROM documents),
            r AS (
              SELECT doc_id, n_tokens,
                round(squeezed / greatest(n_tokens, 1), 4) AS avg_token_len,
                round(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio,
                round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio
              FROM f)
            SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
              round(0.5 * least(n_tokens / 50.0, 1.0)
                  + 0.25 * least(stopword_ratio * 5.0, 1.0)
                  + 0.25 * (1.0 - least(punct_ratio * 5.0, 1.0)), 6) AS quality
            FROM r ORDER BY doc_id""",
        # same score pipeline aggregated per source: scores scale to
        # exact integers (6-dp x 1e6) whose interpolated quartiles are
        # dyadic — compared WITHOUT rounding.
        "source_quality_profile": f"""
            WITH f AS (
              SELECT source,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     t -> t IN ({STOP_SQL}))) AS BIGINT) AS n_stop,
                CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct
              FROM documents),
            r AS (
              SELECT source,
                round(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio,
                round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
                n_tokens
              FROM f),
            q AS (
              SELECT source,
                CAST(round(round(0.5 * least(n_tokens / 50.0, 1.0)
                    + 0.25 * least(stopword_ratio * 5.0, 1.0)
                    + 0.25 * (1.0 - least(punct_ratio * 5.0, 1.0)), 6) * 1000000, 0)
                  AS BIGINT) AS q6
              FROM r)
            SELECT source, count(*) AS n,
                   quantile_cont(q6, 0.25) AS q25,
                   quantile_cont(q6, 0.5) AS q50,
                   quantile_cont(q6, 0.75) AS q75
            FROM q GROUP BY 1 ORDER BY source""",
        "language_id": f"""
            WITH s AS (SELECT doc_id,
                {', '.join(f'{expr} AS s_{lang}' for lang, expr in lang_scores.items())}
              FROM documents)
            SELECT doc_id, CASE {lang_case} ELSE 'und' END AS lang_pred
            FROM s ORDER BY doc_id""",
        "fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                           ' +', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id""",
        "hash_split_docs": """
            WITH b AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                              1, 8)) AS BIGINT) % 100 AS bucket
              FROM documents)
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 90 THEN 'train'
                        WHEN bucket < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id""",
        "stratified_sample_docs": """
            SELECT doc_id, source FROM documents
            WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                           1, 8)) AS BIGINT) % 100
                  < CASE source WHEN 'src1' THEN 50 WHEN 'src2' THEN 10 ELSE 20 END
            ORDER BY doc_id""",
        "pack_sequences_docs": """
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                       AS n_tokens
              FROM documents)
            SELECT doc_id, source, n_tokens,
                   CAST(floor(COALESCE(sum(n_tokens) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        / 500.0) AS BIGINT) AS pack_id
            FROM t ORDER BY doc_id""",
        "cap_per_source": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap'), doc_id) AS rn
              FROM documents)
            WHERE rn <= 20 ORDER BY doc_id""",
        "repetition_features": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents),
            base AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                     len(list_distinct(w)) AS n_distinct
              FROM toks),
            bg AS (
              SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
              FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
            bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
            top AS (SELECT doc_id, max(c) AS top_c FROM bgc GROUP BY 1)
            SELECT b.doc_id, b.n_tokens,
                   round(b.n_distinct / b.n_tokens, 6) AS distinct_token_ratio,
                   CAST(COALESCE(t.top_c, 0) AS BIGINT) AS top_bigram_count,
                   round(COALESCE(t.top_c, 0) * 1.0 / greatest(b.n_tokens - 1, 1), 6)
                     AS top_bigram_frac
            FROM base b LEFT JOIN top t USING (doc_id) ORDER BY b.doc_id""",
        "decontaminate_docs": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                          || ' ' || w[i+4] AS g
              FROM toks, unnest(generate_series(1, len(w) - 4)) AS t(i)),
            bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 7)
            SELECT g.doc_id, count(*) AS n_hits
            FROM g JOIN bench USING (g)
            WHERE g.doc_id % 10 <> 7
            GROUP BY g.doc_id ORDER BY g.doc_id""",
        "pii_redaction": r"""
            WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.0.1' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
                       AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                     '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
            FROM planted ORDER BY doc_id""",
        "chunk_docs": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents WHERE trim(text) <> '')
            SELECT doc_id, CAST(i // 40 AS BIGINT) AS chunk_id,
                   array_to_string(w[i + 1 : i + 50], ' ') AS chunk,
                   CAST(len(w[i + 1 : i + 50]) AS BIGINT) AS n_tokens
            FROM toks, unnest(generate_series(0, greatest(len(w) - 11, 0), 40)) AS t(i)
            ORDER BY doc_id, chunk_id""",
        "dedup_lines_docs": r"""
            WITH toks AS (
              SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents WHERE trim(text) <> ''),
            l AS (
              SELECT doc, i AS pos, array_to_string(w[i + 1 : i + 3], ' ') AS line
              FROM toks, unnest(generate_series(0, len(w) - 1, 3)) AS t(i)),
            c AS (
              SELECT md5(trim(line)) AS k, count(DISTINCT doc) AS nd
              FROM l WHERE trim(line) <> '' GROUP BY 1),
            f AS (
              SELECT l.doc, l.pos, l.line,
                     coalesce(c.nd > 2, FALSE) AS dropped
              FROM l LEFT JOIN c
                ON trim(l.line) <> '' AND md5(trim(l.line)) = c.k)
            SELECT doc,
                   coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                                       chr(10) ORDER BY pos), '') AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
            FROM f GROUP BY doc ORDER BY doc""",
        # C4 line rules + document gates — list_filter replays every
        # line verdict of curation.c4_clean(min_words=3, min_kept=2)
        "c4_clean_docs": r"""
            WITH planted AS (
              SELECT doc_id,
                     concat_ws(chr(10), text,
                       CASE WHEN doc_id % 2 = 0 THEN 'Short one.' END,
                       CASE WHEN doc_id % 3 = 0
                            THEN 'This page uses JavaScript heavily.' END,
                       CASE WHEN doc_id % 5 = 0
                            THEN 'Lorem ipsum dolor sit amet.' END,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'code sample { return 1; }' END,
                       'This is a perfectly good sentence.',
                       CASE WHEN doc_id % 11 = 0
                            THEN 'Another fine sentence right here!' END) AS text
              FROM documents),
            x AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, chr(10)), l ->
                       regexp_matches(trim(l), '[.!?"]$')
                       AND len(regexp_extract_all(trim(l), '\S+')) >= 3
                       AND NOT contains(lower(trim(l)), 'javascript')) AS kept
              FROM planted)
            SELECT doc_id,
                   array_to_string(list_transform(kept, l -> trim(l)), chr(10))
                     AS clean_text,
                   CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept_lines,
                   CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem,
                   CAST(contains(text, '{') AS INT) AS has_brace,
                   CAST((NOT contains(lower(text), 'lorem ipsum')
                         AND NOT contains(text, '{')
                         AND len(kept) >= 2) AS INT) AS keep
            FROM x ORDER BY doc_id""",
        # the composed recipe: c4 gates -> md5-dedup (smallest id) ->
        # split bucket -> offset packing, each stage its proven SQL
        "curation_pipeline_docs": r"""
            WITH planted AS (
              SELECT doc_id,
                     concat_ws(chr(10), text,
                       'Document group ' || CAST(doc_id % 100 AS VARCHAR)
                         || ' reporting in.',
                       'This is a perfectly good sentence.',
                       CASE WHEN doc_id % 5 = 0
                            THEN 'Lorem ipsum dolor sit amet.' END,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'code sample { return 1; }' END) AS text
              FROM documents),
            x AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, chr(10)), l ->
                       regexp_matches(trim(l), '[.!?"]$')
                       AND len(regexp_extract_all(trim(l), '\S+')) >= 3
                       AND NOT contains(lower(trim(l)), 'javascript')) AS kept
              FROM planted),
            c4 AS (
              SELECT doc_id,
                     array_to_string(list_transform(kept, l -> trim(l)), chr(10))
                       AS clean_text
              FROM x
              WHERE NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND len(kept) >= 2),
            ded AS (
              SELECT doc_id, clean_text FROM (
                SELECT doc_id, clean_text,
                       row_number() OVER (PARTITION BY md5(clean_text)
                                          ORDER BY doc_id) AS rn
                FROM c4) WHERE rn = 1),
            spl AS (
              SELECT doc_id, clean_text,
                     CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                                                  || ':split'), 1, 8)) AS BIGINT)
                       % 100 AS bucket
              FROM ded),
            s2 AS (
              SELECT doc_id, clean_text,
                     CASE WHEN bucket < 90 THEN 'train'
                          WHEN bucket < 95 THEN 'val'
                          ELSE 'test' END AS split
              FROM spl),
            t AS (
              SELECT doc_id, split,
                     CAST(len(regexp_extract_all(trim(clean_text), '\S+'))
                          AS BIGINT) AS n_tokens
              FROM s2)
            SELECT doc_id, n_tokens, split,
                   CAST(floor(COALESCE(sum(n_tokens) OVER (
                          PARTITION BY split ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        / 200.0) AS BIGINT) AS pack_id
            FROM t ORDER BY doc_id""",
        # ExactSubstr shared CTE shape: window hashes -> hot set ->
        # lag+cumsum interval merge — the exact replay of
        # curation.repeated_spans(min_len=30, min_docs=2, algo='md5')
        "repeated_spans_docs": """
            WITH w AS (
              SELECT d.doc_id, CAST(p.pos AS BIGINT) AS pos,
                     md5(substr(d.text, CAST(p.pos AS INT) + 1, 30)) AS h
              FROM documents d,
                   LATERAL unnest(range(0, length(d.text) - 30 + 1)) p(pos)
              WHERE length(d.text) >= 30),
            hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            m AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
            g AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w1 IS NULL
                               OR pos > lag(pos) OVER w1 + 30 THEN 1 ELSE 0 END AS brk
                  FROM m WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
            gg AS (SELECT doc_id, pos,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                   FROM g)
            SELECT doc_id, min(pos) AS span_start, max(pos) + 30 AS span_end
            FROM gg GROUP BY doc_id, grp ORDER BY doc_id, span_start""",
        "strip_spans_docs": """
            WITH w AS (
              SELECT d.doc_id, CAST(p.pos AS BIGINT) AS pos,
                     md5(substr(d.text, CAST(p.pos AS INT) + 1, 30)) AS h
              FROM documents d,
                   LATERAL unnest(range(0, length(d.text) - 30 + 1)) p(pos)
              WHERE length(d.text) >= 30),
            hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            m AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
            g AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w1 IS NULL
                               OR pos > lag(pos) OVER w1 + 30 THEN 1 ELSE 0 END AS brk
                  FROM m WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
            gg AS (SELECT doc_id, pos,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                   FROM g),
            spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 30 AS e
                      FROM gg GROUP BY doc_id, grp),
            -- per-doc sentinel (len, len): its gap is the tail after the
            -- last span; docs with no spans get the whole text as one gap
            sent AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS s,
                            CAST(length(text) AS BIGINT) AS e
                     FROM documents WHERE text IS NOT NULL),
            allsp AS (SELECT * FROM spans UNION ALL SELECT * FROM sent),
            gaps AS (SELECT doc_id, s,
                            coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
                              AS prev_e
                     FROM allsp),
            parts AS (SELECT g.doc_id, g.s,
                             substr(d.text, CAST(g.prev_e AS INT) + 1,
                                    CAST(g.s - g.prev_e AS INT)) AS gap
                      FROM gaps g JOIN documents d USING (doc_id)),
            agg AS (SELECT doc_id, string_agg(gap, '' ORDER BY s) AS clean_text
                    FROM parts GROUP BY doc_id),
            stat AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                            CAST(sum(e - s) AS BIGINT) AS chars_removed
                     FROM spans GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(a.clean_text, d.text) END AS clean_text,
                   coalesce(st.n_spans, 0) AS n_spans,
                   coalesce(st.chars_removed, 0) AS chars_removed
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN stat st USING (doc_id)
            ORDER BY d.doc_id""",
        "shuffle_shards_docs": """
            WITH s AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'),
                                              1, 8)) AS BIGINT) % 8 AS shard,
                     md5(CAST(doc_id AS VARCHAR) || ':shuffle:pos') AS ord
              FROM documents)
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
                        AS BIGINT) AS pos
            FROM s ORDER BY doc_id""",
        "quantile_filter_docs": """
            WITH thr AS (
              SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS thr
              FROM documents GROUP BY 1)
            SELECT d.doc_id, d.source, CAST(d.n_chars AS DOUBLE) AS score,
                   round(thr.thr, 6) AS thr
            FROM documents d JOIN thr USING (source)
            WHERE CAST(d.n_chars AS DOUBLE) >= thr.thr
            ORDER BY d.doc_id""",
        "source_overlap": r"""
            WITH toks AS (
              SELECT source, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT source,
                     CAST(concat('0x', substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                                              1, 8)) AS BIGINT) AS h
              FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)),
            sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
              FROM sh a JOIN sh b USING (h) WHERE a.source < b.source
              GROUP BY 1, 2)
            SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, inter,
                   round(inter / (na.n + nb.n - inter), 6) AS jaccard
            FROM inter JOIN sz na ON na.source = src_a JOIN sz nb ON nb.source = src_b
            ORDER BY src_a, src_b""",
        "vocab_top_tokens": """
            WITH tok AS (
              SELECT doc_id AS doc,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''),
            per_doc AS (SELECT doc, token, count(*) AS n FROM tok GROUP BY 1, 2)
            SELECT token, count(*) AS doc_freq, CAST(sum(n) AS BIGINT) AS term_freq
            FROM per_doc GROUP BY token ORDER BY doc_freq DESC, token LIMIT 20""",
        "tfidf_top_terms": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
                     round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.doc_freq + 1.0)) + 1.0),
                           6) AS tfidf
              FROM tf, dfreq, n WHERE tf.token = dfreq.token),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank
              FROM scored)
            SELECT doc_id, token, tf, doc_freq, tfidf, rank
            FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",
        "mix_weights_sources": """
            WITH per AS (
              SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_weight
              FROM documents GROUP BY 1),
            tgt AS (
              SELECT source, (CAST(substr(source, 4) AS BIGINT) + 1) / 210.0 AS tf
              FROM per),
            t AS (SELECT min(per.n_weight / tgt.tf) AS t
                  FROM per JOIN tgt USING (source)
                  WHERE tgt.tf > 0 AND per.n_weight > 0)
            SELECT per.source, per.n_weight, round(tgt.tf, 6) AS target_frac,
                   round(CASE WHEN tgt.tf * t.t / per.n_weight >= 1.0 - 1e-9
                              THEN 1.0 ELSE tgt.tf * t.t / per.n_weight END,
                         6) AS rate
            FROM per JOIN tgt USING (source), t ORDER BY per.source""",
        "mix_sampled_docs": """
            WITH per AS (
              SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_weight
              FROM documents GROUP BY 1),
            tgt AS (
              SELECT source, (CAST(substr(source, 4) AS BIGINT) + 1) / 210.0 AS tf
              FROM per),
            t AS (SELECT min(per.n_weight / tgt.tf) AS t
                  FROM per JOIN tgt USING (source)
                  WHERE tgt.tf > 0 AND per.n_weight > 0),
            r AS (SELECT per.source,
                         CAST(floor((CASE WHEN tgt.tf * t.t / per.n_weight >= 1.0 - 1e-9
                                          THEN 1.0
                                          ELSE tgt.tf * t.t / per.n_weight END) * 10000)
                              AS BIGINT) AS thresh
                  FROM per JOIN tgt USING (source), t)
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'),
                                           1, 8)) AS BIGINT) % 10000 < r.thresh
            ORDER BY d.doc_id""",
        "denylist_hits_docs": f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''),
            h AS (SELECT doc_id, count(*) AS n, list_sort(list(DISTINCT token)) AS m
                  FROM tok WHERE token IN ({_deny_in_list()}) GROUP BY 1)
            SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
                   coalesce(array_to_string(h.m, ','), '') AS matched_terms
            FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""",
        "denylist_clean_docs": f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> '')
            SELECT d.doc_id, d.source FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM tok
                                   WHERE token IN ({_deny_in_list()}))
            ORDER BY d.doc_id""",
        "fuzzy_decontaminate_docs": """
            WITH ctoks AS (SELECT doc_id,
                                  regexp_split_to_array(trim(text), '\\s+') AS w
                           FROM documents),
            csh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                    FROM ctoks, unnest(generate_series(1, len(w) - 2)) AS t(i)),
            csz AS (SELECT doc_id, count(*) AS s FROM csh GROUP BY 1),
            bsh AS (SELECT doc_id AS bench_id, shingle FROM csh WHERE doc_id % 50 = 0),
            bsz AS (SELECT bench_id, count(*) AS s FROM bsh GROUP BY 1),
            inter AS (SELECT c.doc_id, b.bench_id, count(*) AS i
                      FROM csh c JOIN bsh b USING (shingle) GROUP BY 1, 2),
            jac AS (SELECT inter.doc_id, inter.bench_id,
                           round(i / (csz.s + bsz.s - i), 6) AS jaccard
                    FROM inter JOIN csz USING (doc_id) JOIN bsz USING (bench_id))
            SELECT doc_id, bench_id, jaccard FROM jac
            WHERE jaccard >= 0.8 ORDER BY doc_id, bench_id""",
        "lm_score_docs": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
            model AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY 1),
            tot AS (SELECT sum(cnt) AS total FROM model)
            SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                   round(ln(tot.total) - sum(tf.tf * ln(model.cnt)) / sum(tf.tf),
                         6) AS avg_nll
            FROM tf JOIN model USING (token), tot
            GROUP BY tf.doc_id, tot.total ORDER BY tf.doc_id""",
        "classifier_score_docs": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
              FROM documents WHERE trim(text) <> ''),
            w AS (
              SELECT doc_id, (CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)
                              % 4096) * 2654435761 % 10007 / 10007.0 - 0.5 AS wt
              FROM tok)
            SELECT doc_id, count(*) AS n_tokens,
                   round(1.0 / (1.0 + exp(-avg(wt))), 6) AS score
            FROM w GROUP BY doc_id ORDER BY doc_id""",
        "dsir_weights_docs": f"""
            WITH {DSIR_CTE}
            SELECT doc_id, n_grams, round(log_w, 6) AS log_w
            FROM dw ORDER BY doc_id""",
        "dsir_resample_docs": f"""
            WITH {DSIR_CTE},
            k AS (SELECT doc_id, round(log_w, 6) AS log_w,
                         round(round(log_w, 6) - ln(-ln(
                           (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'),
                                                     1, 8)) AS BIGINT) + 0.5)
                           / 4294967296.0)), 6) AS key
                  FROM dw),
            top AS (SELECT doc_id, log_w, key FROM k ORDER BY key DESC, doc_id LIMIT 200)
            SELECT doc_id, log_w, key FROM top ORDER BY doc_id""",
        "winnow_fingerprints": f"""
            WITH {WINNOW_CTE}
            SELECT doc_id, array_to_string(fps, '|') AS fps FROM m ORDER BY doc_id""",
        "winnow_pairs": f"""
            WITH {WINNOW_CTE},
            e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                  FROM e a JOIN e b USING (fp) WHERE a.doc_id < b.doc_id
                  GROUP BY 1, 2)
            SELECT id_a, id_b, shared FROM p WHERE shared >= 10 ORDER BY id_a, id_b""",
        # the same winnow pair stage closed transitively (min-label reach)
        "winnow_clusters_docs": f"""
            WITH RECURSIVE {WINNOW_CTE},
            ef AS (SELECT doc_id, unnest(fps) AS fp FROM m),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                  FROM ef a JOIN ef b USING (fp) WHERE a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            e AS (SELECT id_a, id_b FROM p WHERE shared >= 10),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id)
            SELECT id, min(lab) AS cluster_id
            FROM reach GROUP BY id ORDER BY id""",
        "join_agg": """
            SELECT n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name""",
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2 ORDER BY 1, 2""",
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank
            FROM (SELECT o_custkey, o_orderkey,
                         row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rank
                  FROM orders WHERE o_custkey < 200)
            WHERE rank <= 3 ORDER BY o_custkey, rank""",
        "customers_without_orders": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
            ORDER BY c_custkey""",
        "revenue_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
        "order_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
        "suppliers_semi_join": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
            ORDER BY s_suppkey""",
        "event_type_setops": """
            SELECT user_id FROM events WHERE event_type = 'click' AND event_id % 7 = 0
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view' AND event_id % 7 = 1
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase' AND event_id % 11 = 0
            ORDER BY user_id""",
        "order_percentiles": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
                   round(corr(o_totalprice, o_custkey), 6) AS price_cust_corr,
                   count(*) AS n
            FROM orders GROUP BY 1 ORDER BY 1""",
        "monthly_orders": """
            SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
                   count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1 ORDER BY 1""",
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY 1 ORDER BY 1""",
        "json_props_stats": """
            WITH k AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
            SELECT event_type, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k, max(k) AS max_k
            FROM k GROUP BY 1 ORDER BY 1""",
        "source_name_pairs": """
            WITH s AS (SELECT DISTINCT source FROM documents)
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(levenshtein(a.source, b.source) AS INT) AS dist
            FROM s a, s b
            WHERE a.source < b.source AND levenshtein(a.source, b.source) <= 1
            ORDER BY src_a, src_b""",
        "source_stats": """
            SELECT source, count(*) AS n,
                   CAST(min(length(text)) AS BIGINT) AS min_len,
                   CAST(max(length(text)) AS BIGINT) AS max_len
            FROM documents GROUP BY source ORDER BY source""",
        "cc_components": """
            WITH RECURSIVE
            e AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
              WHERE doc_id % 10 < 3
                AND doc_id + 1 IN (SELECT doc_id FROM documents)),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id)
            SELECT id, min(lab) AS cluster_id
            FROM reach GROUP BY id ORDER BY id""",
        # pairs -> clusters composition: all-pairs exact Jaccard edges
        # (the LSH stage's recall target) closed transitively by the
        # same recursive-CTE min-label reach as cc_components.
        "near_dup_clusters_docs": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id)
            SELECT id, min(lab) AS cluster_id
            FROM reach GROUP BY id ORDER BY id""",
        # clustering-evaluation report over the same closure: the
        # (cluster, truth) contingency cells, doubled pair counts
        # (k*(k-1), halved only at the end), and the pair-confusion
        # Rand/ARI identities — float enters only in the two final
        # ratios, mirrored expression-for-expression.
        "cluster_quality_docs": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            tl AS (SELECT doc_id AS id, md5(text) AS t FROM documents
                   WHERE text IS NOT NULL),
            cells AS (SELECT cl.cluster_id AS c, tl.t, count(*) AS n
                      FROM cl JOIN tl USING (id) GROUP BY 1, 2),
            s AS (SELECT CAST(coalesce(sum(n * (n - 1)), 0) AS HUGEINT) AS tp2,
                         CAST(coalesce(sum(n), 0) AS HUGEINT) AS n_items
                  FROM cells),
            a AS (SELECT CAST(coalesce(sum(na * (na - 1)), 0) AS HUGEINT) AS pred2
                  FROM (SELECT sum(n) AS na FROM cells GROUP BY c)),
            b AS (SELECT CAST(coalesce(sum(nb * (nb - 1)), 0) AS HUGEINT) AS true2
                  FROM (SELECT sum(n) AS nb FROM cells GROUP BY t)),
            x AS (SELECT n_items, tp2,
                         pred2 - tp2 AS fp2, true2 - tp2 AS fn2,
                         n_items * (n_items - 1) - pred2 - true2 + tp2 AS tn2
                  FROM s, a, b)
            SELECT CAST(n_items AS BIGINT) AS n_items,
                   CAST(tp2 // 2 AS DECIMAL(38,0)) AS tp,
                   CAST(fp2 // 2 AS DECIMAL(38,0)) AS fp,
                   CAST(fn2 // 2 AS DECIMAL(38,0)) AS fn,
                   CAST(tn2 // 2 AS DECIMAL(38,0)) AS tn,
                   round(CASE WHEN CAST(n_items * (n_items - 1) AS DOUBLE) = 0
                         THEN 1.0
                         ELSE (CAST(tp2 AS DOUBLE) + CAST(tn2 AS DOUBLE))
                              / CAST(n_items * (n_items - 1) AS DOUBLE)
                         END, 6) AS rand_index,
                   round(CASE WHEN (CAST(tp2 AS DOUBLE) + CAST(fp2 AS DOUBLE))
                                   * (CAST(fp2 AS DOUBLE) + CAST(tn2 AS DOUBLE))
                                   + (CAST(tp2 AS DOUBLE) + CAST(fn2 AS DOUBLE))
                                   * (CAST(fn2 AS DOUBLE) + CAST(tn2 AS DOUBLE)) = 0
                         THEN 1.0
                         ELSE 2.0 * (CAST(tp2 AS DOUBLE) * CAST(tn2 AS DOUBLE)
                                     - CAST(fn2 AS DOUBLE) * CAST(fp2 AS DOUBLE))
                              / ((CAST(tp2 AS DOUBLE) + CAST(fp2 AS DOUBLE))
                                 * (CAST(fp2 AS DOUBLE) + CAST(tn2 AS DOUBLE))
                                 + (CAST(tp2 AS DOUBLE) + CAST(fn2 AS DOUBLE))
                                 * (CAST(fn2 AS DOUBLE) + CAST(tn2 AS DOUBLE)))
                         END, 6) AS ari,
                   round(CASE WHEN (CAST(tp2 AS DOUBLE) + CAST(fp2 AS DOUBLE))
                                   * (CAST(tp2 AS DOUBLE) + CAST(fn2 AS DOUBLE)) = 0
                         THEN CASE WHEN CAST(tp2 AS DOUBLE) + CAST(fp2 AS DOUBLE)
                                        + CAST(fn2 AS DOUBLE) = 0
                                   THEN 1.0 ELSE 0.0 END
                         ELSE CAST(tp2 AS DOUBLE)
                              / sqrt((CAST(tp2 AS DOUBLE) + CAST(fp2 AS DOUBLE))
                                     * (CAST(tp2 AS DOUBLE) + CAST(fn2 AS DOUBLE)))
                         END, 6) AS fowlkes_mallows
            FROM x""",
        # element/entropy report over the same closure: purity and the
        # B-cubed sums replay per-cell, the V-measure entropies via the
        # same three log-moment reductions (A, B, L) the Spark
        # aggregate computes — float enters per-cell exactly where the
        # operator's doubles do, rounded to the same 6dp
        "cluster_quality_ext_docs": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            tl AS (SELECT doc_id AS id, md5(text) AS t FROM documents
                   WHERE text IS NOT NULL),
            cells AS (SELECT cl.cluster_id AS c, tl.t, count(*) AS n
                      FROM cl JOIN tl USING (id) GROUP BY 1, 2),
            am AS (SELECT c, sum(n) AS av FROM cells GROUP BY c),
            bm AS (SELECT t, sum(n) AS bv FROM cells GROUP BY t),
            m AS (SELECT CAST(coalesce(sum(n), 0) AS HUGEINT) AS n_items,
                         coalesce(sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                      / CAST(av AS DOUBLE)), 0) AS prec_sum,
                         coalesce(sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                      / CAST(bv AS DOUBLE)), 0) AS rec_sum,
                         coalesce(sum(CAST(n AS DOUBLE)
                                      * ln(CAST(n AS DOUBLE))), 0) AS l_sum,
                         coalesce(sum(CAST(n AS DOUBLE)
                                      * ln(CAST(av AS DOUBLE))), 0) AS a_sum,
                         coalesce(sum(CAST(n AS DOUBLE)
                                      * ln(CAST(bv AS DOUBLE))), 0) AS b_sum
                  FROM cells JOIN am USING (c) JOIN bm USING (t)),
            p AS (SELECT CAST(coalesce(sum(mx), 0) AS HUGEINT) AS pur_num
                  FROM (SELECT max(n) AS mx FROM cells GROUP BY c)),
            r AS (SELECT m.*, p.pur_num,
                         CAST(n_items AS DOUBLE) AS nd FROM m, p),
            sc AS (SELECT n_items, nd, pur_num,
                          CASE WHEN nd = 0 THEN 1.0
                               ELSE prec_sum / nd END AS prec,
                          CASE WHEN nd = 0 THEN 1.0
                               ELSE rec_sum / nd END AS rec,
                          (a_sum - l_sum) / nullif(nd, 0) AS htc_num,
                          (b_sum - l_sum) / nullif(nd, 0) AS hct_num,
                          ln(nullif(nd, 0)) - a_sum / nullif(nd, 0) AS hc,
                          ln(nullif(nd, 0)) - b_sum / nullif(nd, 0) AS ht
                   FROM r),
            sc2 AS (SELECT n_items, nd, pur_num, prec, rec,
                           CASE WHEN nd = 0 OR ht <= 0 THEN 1.0
                                ELSE 1.0 - htc_num / ht END AS hom,
                           CASE WHEN nd = 0 OR hc <= 0 THEN 1.0
                                ELSE 1.0 - hct_num / hc END AS com
                    FROM sc)
            SELECT CAST(n_items AS BIGINT) AS n_items,
                   round(CASE WHEN nd = 0 THEN 1.0
                         ELSE CAST(pur_num AS DOUBLE) / nd END, 6) AS purity,
                   round(prec, 6) AS bcubed_precision,
                   round(rec, 6) AS bcubed_recall,
                   round(CASE WHEN prec + rec = 0 THEN 0.0
                         ELSE 2.0 * prec * rec / (prec + rec) END, 6)
                     AS bcubed_f1,
                   round(hom, 6) AS homogeneity,
                   round(com, 6) AS completeness,
                   round(CASE WHEN hom + com = 0 THEN 0.0
                         ELSE 2.0 * hom * com / (hom + com) END, 6)
                     AS v_measure
            FROM sc2""",
        # per-source duplication report over the same closure: clustered
        # (= edge-bearing, size >= 2) docs counted per source.
        "dedup_rate_by_source": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
            SELECT d.source, count(*) AS n_docs,
                   count(cl.id) AS n_dup_docs,
                   round(count(cl.id) * 1.0 / count(*), 6) AS dup_rate
            FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
            GROUP BY 1 ORDER BY source""",
        # survivor selection on top of the same closure: max quality
        # (caption length) per cluster, ties broken by min doc_id —
        # replayed as a max-filter + min-id instead of Spark's
        # single-pass min_by((-q, id)) struct aggregate.
        "near_dup_representatives": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            mem AS (SELECT cl.cluster_id, d.doc_id,
                           CAST(length(d.text) AS BIGINT) AS q
                    FROM cl JOIN documents d ON d.doc_id = cl.id),
            mx AS (SELECT cluster_id, max(q) AS rep_quality,
                          count(*) AS n_members
                   FROM mem GROUP BY 1)
            SELECT m.cluster_id, min(m.doc_id) AS rep_id,
                   mx.rep_quality, mx.n_members
            FROM mem m JOIN mx USING (cluster_id)
            WHERE m.q = mx.rep_quality
            GROUP BY m.cluster_id, mx.rep_quality, mx.n_members
            ORDER BY cluster_id""",
        "edit_near_dup_pairs": f"""
            WITH {SHINGLE_CTE},
            p AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
            e AS (SELECT p.id_a, p.id_b,
                         CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
                         round(levenshtein(a.text, b.text) * 1.0 /
                               greatest(length(a.text), length(b.text), 1), 6) AS rel_dist
                  FROM p JOIN documents a ON a.doc_id = p.id_a
                         JOIN documents b ON b.doc_id = p.id_b)
            SELECT id_a, id_b, edit_dist, rel_dist
            FROM e WHERE rel_dist <= 0.5 ORDER BY id_a, id_b""",
        # incremental merge must land on the same closure as a from-
        # scratch batch run — the oracle IS the batch closure.
        "incremental_clusters_docs": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            {CLUSTER_CTE}
            SELECT id, cluster_id FROM cl ORDER BY id""",
        # leakage-guarded split: bucket keyed on coalesce(cluster, id),
        # same md5 arithmetic as hash_split_docs.
        "cluster_safe_split_docs": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            {CLUSTER_CTE},
            key AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS split_key
                    FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
            b AS (SELECT doc_id, split_key,
                         CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR) || ':split'),
                                                  1, 8)) AS BIGINT) % 100 AS bucket
                  FROM key)
            SELECT doc_id, split_key, bucket,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id""",
        # naive id-keyed split audited against the closure: clusters by
        # number of distinct splits touched.
        "split_leakage_report": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            {CLUSTER_CTE},
            sp AS (SELECT doc_id,
                          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                                   1, 8)) AS BIGINT) % 100 AS bucket
                   FROM documents),
            spl AS (SELECT doc_id,
                           CASE WHEN bucket < 80 THEN 'train'
                                WHEN bucket < 90 THEN 'val'
                                ELSE 'test' END AS split
                    FROM sp),
            pc AS (SELECT cl.cluster_id, count(DISTINCT spl.split) AS n_splits,
                          count(*) AS n_docs
                   FROM cl JOIN spl ON spl.doc_id = cl.id GROUP BY 1)
            SELECT n_splits, count(*) AS n_clusters,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs
            FROM pc GROUP BY 1 ORDER BY n_splits""",
        "cluster_size_histogram": f"""
            WITH RECURSIVE {SHINGLE_CTE},
            {CLUSTER_CTE},
            csz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
            SELECT cluster_size, count(*) AS n_clusters
            FROM csz GROUP BY 1 ORDER BY cluster_size""",
        # phash Hamming-band skew report: band extraction replayed as
        # exact HUGEINT div/mod (DuckDB's >> on negative BIGINTs is not
        # a reliable unsigned shift), over the same fixture parquet.
        "phash_band_stats": f"""
            WITH u AS (
              SELECT image_id,
                     CAST(phash AS HUGEINT)
                     + CASE WHEN phash < 0
                            THEN CAST('18446744073709551616' AS HUGEINT)
                            ELSE 0 END AS up
              FROM read_parquet('{_images_parquet(256)}')),
            b AS (
              SELECT image_id, t.band_idx,
                     CAST((up // t.p) % 65536 AS BIGINT) AS band_hash
              FROM u CROSS JOIN (VALUES
                 (0, CAST(1 AS HUGEINT)),
                 (1, CAST(65536 AS HUGEINT)),
                 (2, CAST(4294967296 AS HUGEINT)),
                 (3, CAST(281474976710656 AS HUGEINT))) AS t(band_idx, p)),
            bu AS (SELECT band_idx, band_hash, count(*) AS s FROM b GROUP BY 1, 2)
            SELECT band_idx, count(*) AS n_buckets,
                   CAST(sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_buckets,
                   max(s) AS max_bucket,
                   CAST(sum(s * (s - 1) / 2) AS BIGINT) AS n_cand_pairs
            FROM bu GROUP BY 1 ORDER BY band_idx""",
        # image-fixture oracles: DuckDB reads the SAME parquet file the
        # Spark query reads (written by _images_parquet — called below so
        # the file exists regardless of which side the driver runs
        # first). Grouping is BY THE BLOB ITSELF: content equality is
        # the ground truth the ladder must reproduce.
        "images_exact_dedup": f"""
            SELECT array_to_string(list_sort(list(image_id)), '|') AS members,
                   count(*) AS n
            FROM read_parquet('{_images_parquet(256)}')
            GROUP BY bytes HAVING count(*) > 1
            ORDER BY members""",
        # audio near-dup: band-OR candidate join + Hamming filter
        # replayed over stored-truth fingerprints (same pure kernel).
        # a pair shares a 2-of-8-block key (the Spark side's Manku-style
        # multi-block banding) iff at least 2 of its 8 blocks are equal
        "audio_near_dup": f"""
            WITH f AS (SELECT audio_id, afp, band0, band1, band2, band3,
                              band4, band5, band6, band7
                       FROM read_parquet('{_audio_near_dup_parquet()}')),
            cand AS (SELECT DISTINCT a.audio_id AS id_a, b.audio_id AS id_b,
                            a.afp AS fa, b.afp AS fb
                     FROM f a JOIN f b ON a.audio_id < b.audio_id
                      AND (CAST(a.band0 = b.band0 AS INT)
                           + CAST(a.band1 = b.band1 AS INT)
                           + CAST(a.band2 = b.band2 AS INT)
                           + CAST(a.band3 = b.band3 AS INT)
                           + CAST(a.band4 = b.band4 AS INT)
                           + CAST(a.band5 = b.band5 AS INT)
                           + CAST(a.band6 = b.band6 AS INT)
                           + CAST(a.band7 = b.band7 AS INT)) >= 2)
            SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(fa, fb)) <= 6
            ORDER BY id_a, id_b""",
        # the FLAGSHIP gate: the full 5-stage pipeline's cluster
        # assignment must equal the planted truth's transitive closure
        # (min-label components + singleton backfill) — cluster-level
        # recall AND precision 1.0, the north rule's match criterion.
        "images_near_dup_clusters": f"""
            WITH RECURSIVE
            nodes AS (SELECT printf('img-%09d', CAST(i AS INT)) AS id
                      FROM range(256) r(i)),
            e AS (SELECT id_a, id_b
                  FROM read_parquet('{_image_truth_pairs_parquet(256)}')),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
            SELECT n.id AS image_id, coalesce(c.cluster_id, n.id) AS cluster_id
            FROM nodes n LEFT JOIN comp c ON c.id = n.id
            ORDER BY image_id""",
        # keep-best-copy over the same closure: max w*h per cluster,
        # ties broken by min image_id (Spark: one min_by((-q, id))
        # partial agg; here: max-filter + min-id over the closure
        # joined back to the images parquet).
        "images_representatives": f"""
            WITH RECURSIVE
            nodes AS (SELECT printf('img-%09d', CAST(i AS INT)) AS id
                      FROM range(256) r(i)),
            e AS (SELECT id_a, id_b
                  FROM read_parquet('{_image_truth_pairs_parquet(256)}')),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            cl AS (SELECT n.id AS image_id, coalesce(c.cluster_id, n.id) AS cluster_id
                   FROM nodes n LEFT JOIN comp c ON c.id = n.id),
            mem AS (SELECT cl.cluster_id, i.image_id,
                           CAST(i.w AS BIGINT) * CAST(i.h AS BIGINT) AS q
                    FROM cl JOIN read_parquet('{_images_parquet(256)}') i
                    USING (image_id)),
            mx AS (SELECT cluster_id, max(q) AS rep_quality,
                          count(*) AS n_members
                   FROM mem GROUP BY 1)
            SELECT m.cluster_id, min(m.image_id) AS rep_id,
                   mx.rep_quality, mx.n_members
            FROM mem m JOIN mx USING (cluster_id)
            WHERE m.q = mx.rep_quality
            GROUP BY m.cluster_id, mx.rep_quality, mx.n_members
            ORDER BY cluster_id""",
        # dedup ROI over the same closure: byte totals per cluster, the
        # survivor's bytes (max w*h, ties min id), and the difference
        # the gate oracle reuses the flagship's trusted closure: a batch
        # image is matched iff its truth component holds a history member
        "images_ingest_gate": f"""
            WITH RECURSIVE
            nodes AS (SELECT printf('img-%09d', CAST(i AS INT)) AS id
                      FROM range(256) r(i)),
            e AS (SELECT id_a, id_b
                  FROM read_parquet('{_image_truth_pairs_parquet(256)}')),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            cl AS (SELECT n.id, coalesce(c.cluster_id, n.id) AS cluster_id
                   FROM nodes n LEFT JOIN comp c ON c.id = n.id),
            b AS (SELECT id, cluster_id FROM cl
                  WHERE CAST(substr(id, 5) AS INT) % 4 = 0),
            h AS (SELECT id, cluster_id FROM cl
                  WHERE CAST(substr(id, 5) AS INT) % 4 <> 0)
            SELECT b.id AS image_id, count(h.id) > 0 AS matched
            FROM b LEFT JOIN h USING (cluster_id)
            GROUP BY b.id ORDER BY image_id""",
        "images_dedup_savings": f"""
            WITH RECURSIVE
            nodes AS (SELECT printf('img-%09d', CAST(i AS INT)) AS id
                      FROM range(256) r(i)),
            e AS (SELECT id_a, id_b
                  FROM read_parquet('{_image_truth_pairs_parquet(256)}')),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM e
              UNION
              SELECT id_b AS u, id_a AS v FROM e),
            reach(id, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM bidir) t
              UNION
              SELECT b.v, r.lab FROM reach r JOIN bidir b ON b.u = r.id),
            comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
            cl AS (SELECT n.id AS image_id, coalesce(c.cluster_id, n.id) AS cluster_id
                   FROM nodes n LEFT JOIN comp c ON c.id = n.id),
            mem AS (SELECT cl.cluster_id, i.image_id,
                           CAST(i.w AS BIGINT) * CAST(i.h AS BIGINT) AS q,
                           CAST(octet_length(i.bytes) AS BIGINT) AS nbytes
                    FROM cl JOIN read_parquet('{_images_parquet(256)}') i
                    USING (image_id)),
            mx AS (SELECT cluster_id, max(q) AS mq,
                          count(*) AS n_members,
                          CAST(sum(nbytes) AS BIGINT) AS bytes_total
                   FROM mem GROUP BY 1),
            rep AS (SELECT m.cluster_id, min(m.image_id) AS rep_id
                    FROM mem m JOIN mx ON m.cluster_id = mx.cluster_id
                                       AND m.q = mx.mq
                    GROUP BY 1)
            SELECT mx.cluster_id, mx.n_members, mx.bytes_total,
                   k.nbytes AS bytes_kept,
                   mx.bytes_total - k.nbytes AS bytes_saved
            FROM mx JOIN rep USING (cluster_id)
                    JOIN mem k ON k.cluster_id = mx.cluster_id
                               AND k.image_id = rep.rep_id
            WHERE mx.n_members > 1 ORDER BY cluster_id""",
        # shard-balance audit: replay the writer's content-addressed
        # md5 bucket (id || ':wds') and roll up byte lengths
        "export_shard_stats": f"""
            WITH s AS (
              SELECT CAST(concat('0x', substr(md5(image_id || ':wds'), 1, 8))
                          AS BIGINT) % 8 AS shard,
                     CAST(octet_length(bytes) AS BIGINT) AS nbytes
              FROM read_parquet('{_images_parquet(256)}'))
            SELECT shard, count(*) AS n_rows,
                   CAST(sum(nbytes) AS BIGINT) AS total_bytes,
                   max(nbytes) AS max_bytes
            FROM s GROUP BY 1 ORDER BY shard""",
        # flip-invariant candidates: band-OR join over the stored-truth
        # canonical-dihedral-phash bands (same pure kernels, computed
        # single-process at fixture-build time).
        "images_flip_near_dup": f"""
            WITH f AS (SELECT image_id, band0, band1, band2, band3
                       FROM read_parquet('{_flip_images_parquet()}')),
            p AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
                  FROM f a JOIN f b ON a.image_id < b.image_id
                   AND (a.band0 = b.band0 OR a.band1 = b.band1
                        OR a.band2 = b.band2 OR a.band3 = b.band3))
            SELECT id_a, id_b FROM p ORDER BY id_a, id_b""",
    }
