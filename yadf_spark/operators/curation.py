"""Corpus-curation operators for training-data pipelines: deterministic
splits, stratified sampling, sequence packing, and vocabulary / TF-IDF.

None of these exist in the reference (a strictly batch dup-scan,
SURVEY.md §2.8) — they are the operations that sit immediately
downstream of dedup in a real 100 TB curation pipeline: carve the
deduped corpus into train/val/test, subsample per source, pack
documents into context-window-sized bins, and score terms.

Scale posture, operator by operator:

* ``hash_split`` / ``stratified_sample`` are **narrow maps** — a
  content-addressed md5 bucket per row, zero shuffles, fully pushed
  into whole-stage codegen. Content addressing is the load-bearing
  design choice: Spark's own ``randomSplit``/``sampleBy`` draw from
  ``rand(seed)`` whose stream depends on partition layout, so the
  "same" split changes whenever the file count, AQE coalescing, or
  cluster size changes — a classic train/test-contamination trap at
  scale. A hash of the row id is invariant under repartitioning and
  incremental re-ingestion: a document keeps its split forever.
* ``pack_sequences`` is **one shuffle** (hash partition on the shard
  column) followed by an in-partition sort window. Packing is done
  per shard, never via a global ``ORDER BY`` window — a single
  unpartitioned window is a one-task serial bottleneck at any scale.
  Shards (e.g. ``source``, or a hash-derived shard id) scale out with
  the data; each executor packs its own shards independently, which is
  also how downstream training reads them.
* ``vocabulary`` / ``tf_idf`` are the canonical explode → groupBy
  shape: partial aggregation combines token counts map-side, so hot
  stopword tokens ship one partial row per partition rather than one
  row per occurrence (the same skew posture as the dedup ladder's
  group counts, operators/exact.py). The top-k vocabulary uses
  ``ORDER BY ... LIMIT n``, which Spark plans as TakeOrderedAndProject
  — per-partition top-k then a driver merge of k·p rows, never a full
  sort.

All bucket math uses the md5-prefix portable hash so a DuckDB oracle
can replay every assignment bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

#: bucket space for split/sample fractions — percentages, effectively
BUCKETS = 100


def md5_bucket(col: Column, n_buckets: int = BUCKETS, salt: str = "") -> Column:
    """Deterministic content-addressed bucket in ``[0, n_buckets)``.

    First 8 hex chars of md5 → 32-bit int → mod. Portable: DuckDB
    replays it as ``CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)
    % n``. The optional ``salt`` decorrelates independent decisions
    made over the same id space (e.g. the split bucket must not reuse
    the sampling bucket, or sampling would preferentially eat one
    split).
    """
    key = col.cast("string") if not salt else F.concat(col.cast("string"), F.lit(":" + salt))
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int],
    salt: str = "split",
) -> DataFrame:
    """Assign a stable train/val/test-style ``split`` label per row.

    ``weights`` maps label → integer percentage; they must sum to
    ``BUCKETS`` (100). The label is a pure function of the id, so the
    assignment survives repartitioning, reruns, and incremental ingest
    — rows added next month cannot move today's rows between splits.
    Narrow map: no shuffle, no Python.
    """
    if sum(weights.values()) != BUCKETS:
        raise ValueError(f"split weights must sum to {BUCKETS}, got {weights}")
    bucket = md5_bucket(F.col(id_col), BUCKETS, salt=salt)
    return df.withColumn("bucket", bucket).withColumn("split", _split_label(bucket, weights))


def _split_label(bucket: Column, weights: dict[str, int]) -> Column:
    """Map a ``[0, BUCKETS)`` bucket to its split label by cumulative
    weight — the shared when-chain behind hash_split/cluster_safe_split."""
    expr: Column | None = None
    lo = 0
    for label, w in weights.items():
        cond = bucket < F.lit(lo + w)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
        lo += w
    return expr


def cluster_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    weights: dict[str, int],
    salt: str = "split",
) -> DataFrame:
    """Leakage-guarded train/val/test split: every near-dup cluster
    lands wholly inside ONE split.

    ``hash_split`` keyed on the row id silently leaks: two near-identical
    documents hash to independent buckets, so one lands in train and its
    twin in val — the eval set then measures memorization, not
    generalization. Here the bucket key is the row's connected-component
    ``cluster_id`` when it has one (``clusters`` is the
    ``connected_components`` output: ``(id, cluster_id)``, dup members
    only) and the row's own id for singletons. Same md5 bucket, same
    determinism guarantees as ``hash_split`` — assignments survive
    repartitioning and incremental ingest, and a NEW member joining an
    existing cluster inherits the cluster's split.

    Scale shape: one left join against the cluster table — only dup
    members appear there, so it is small relative to the corpus and AQE
    broadcasts it; everything else is the same narrow codegen map as
    ``hash_split``. Output adds ``split_key``, ``bucket``, ``split``.
    """
    if sum(weights.values()) != BUCKETS:
        raise ValueError(f"split weights must sum to {BUCKETS}, got {weights}")
    cl = clusters.select(F.col("id").alias(id_col), "cluster_id")
    joined = df.join(cl, id_col, "left")
    key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = md5_bucket(key, BUCKETS, salt=salt)
    return (
        joined.withColumn("split_key", key)
        .withColumn("bucket", bucket)
        .withColumn("split", _split_label(bucket, weights))
        .drop("cluster_id")
    )


def split_leakage_report(
    clusters: DataFrame, split_df: DataFrame, id_col: str
) -> DataFrame:
    """How badly a split assignment leaks across near-dup clusters:
    per-cluster count of distinct splits touched, rolled up to
    ``(n_splits, n_clusters, n_docs)``. ``n_splits > 1`` rows are
    train/eval contamination — zero such rows is the acceptance gate for
    ``cluster_safe_split`` and the audit that catches a naive id-keyed
    split. Two partial-agg groupBys over the (small) cluster-member
    table; the corpus itself never shuffles."""
    members = clusters.select(F.col("id").alias(id_col), "cluster_id").join(
        split_df.select(id_col, "split"), id_col
    )
    per_cluster = members.groupBy("cluster_id").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count("*").alias("n_docs"),
    )
    return per_cluster.groupBy("n_splits").agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_docs").alias("n_docs"),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, int],
    default_pct: int = 0,
    salt: str = "sample",
) -> DataFrame:
    """Keep a deterministic per-stratum percentage of rows.

    ``fractions`` maps stratum value → integer percentage kept; strata
    not listed keep ``default_pct``. Unlike ``df.sampleBy`` (Bernoulli
    on ``rand(seed)``, partition-layout-dependent), the kept set is a
    pure function of the id — the property that makes the sample
    reproducible on a 1000-executor rerun. Narrow map, no shuffle.
    """
    bucket = md5_bucket(F.col(id_col), BUCKETS, salt=salt)
    pct: Column = F.lit(default_pct)
    for value, p in fractions.items():
        pct = F.when(F.col(strata_col) == value, F.lit(p)).otherwise(pct)
    return df.where(bucket < pct)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    shard_col: str,
    budget: int,
) -> DataFrame:
    """Assign each document to a token-budgeted pack within its shard.

    Offset packing: documents are laid out in deterministic ``id``
    order within each shard and ``pack_id = floor(tokens_before /
    budget)`` — the streaming concat-then-chunk discipline used for
    sequence packing in practice. Packs target ``budget`` tokens and a
    pack can overflow by at most one document (documents are atomic
    here; a true first-fit bin pack needs sequential state and buys
    little over this at corpus scale). One shuffle on the shard key;
    the window sorts within partitions only — never a global order.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before = F.coalesce(F.sum(n_tokens_col).over(w), F.lit(0))
    return df.withColumn("pack_id", F.floor(tokens_before / F.lit(budget)))


def cap_per_group(df: DataFrame, id_col: str, group_col: str, k: int, salt: str = "cap") -> DataFrame:
    """Keep at most ``k`` rows per group, deterministically.

    The web-curation "domain cap": bound any one source's share of the
    corpus. Rows are chosen by content-hash order (md5 of the id), so
    the kept set is a stable pseudo-random sample of the group — not
    "first k by ingestion order", which over-samples whatever happened
    to arrive first — and identical on every rerun and cluster size.
    One shuffle (window on the group key); a mega-group costs one
    partition's sort, the same skew posture as the dedup ladder's
    windows.
    """
    order = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(order, id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


def _word_kgrams(text_col: Column, k: int) -> Column:
    """Distinct word k-grams (no short-text fallback: a doc with fewer
    than ``k`` words has no k-gram). Zip-of-shifted-slices form — see
    functions/text.word_shingles for why not element_at-in-a-lambda."""
    w = T.tokens(text_col)
    n = F.size(w)
    cnt = n - (k - 1)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, cnt).alias(f"g{i}") for i in range(k)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)]))
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array().cast("array<string>")))


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    ``distinct_token_ratio`` (low → the doc repeats itself) and
    ``top_bigram_count`` / ``top_bigram_frac`` (fraction of the doc's
    bigram OCCURRENCES that are the single most frequent bigram —
    boilerplate and generated spam score high; a true [0, 1] fraction
    even for self-overlapping bigrams like "b b" in "b b b", which a
    token-coverage formula over-counts past 1.0).
    Shape: explode bigrams → per-(doc, bigram)
    partial-agg counts → per-doc max → join back onto the narrow
    per-doc stats; nothing wider than (id, bigram) crosses a shuffle.
    """
    base = df.select(
        F.col(id_col).alias("doc"),
        T.token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(T.tokens(F.col(text_col)))).cast("long").alias("n_distinct"),
    )
    bg = df.select(
        F.col(id_col).alias("doc"), F.explode(_bigrams(F.col(text_col))).alias("bigram")
    )
    top = (
        bg.groupBy("doc", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc")
        .agg(F.max("c").alias("top_c"))
    )
    out = base.join(top, "doc", "left")
    top_c = F.coalesce(F.col("top_c"), F.lit(0))
    return out.select(
        "doc",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_token_ratio"),
        top_c.cast("long").alias("top_bigram_count"),
        F.round(top_c / F.greatest(F.col("n_tokens") - 1, F.lit(1)), 6).alias("top_bigram_frac"),
    )


def _bigrams(text_col: Column) -> Column:
    """All word bigrams (NOT distinct — repetition counting needs the
    multiset)."""
    w = T.tokens(text_col)
    n = F.size(w)
    cnt = n - 1
    zipped = F.arrays_zip(F.slice(w, 1, cnt).alias("g0"), F.slice(w, 2, cnt).alias("g1"))
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", s["g0"], s["g1"]))
    return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))


def decontaminate(
    df: DataFrame, bench_df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Flag corpus documents sharing any word ``k``-gram with a
    benchmark set — train-test decontamination, the step every
    evaluation-honest training pipeline runs after dedup.

    Returns ``(doc, n_hits)`` for contaminated documents only. The
    benchmark shingle set is tiny relative to the corpus (evaluation
    suites are thousands of documents, the corpus is 10^12), so the
    join side is explicitly broadcast: the corpus-side explode never
    shuffles — each partition streams its grams past the in-memory
    benchmark set, a map-side semi-join.
    """
    corpus = df.select(
        F.col(id_col).alias("doc"), F.explode(_word_kgrams(F.col(text_col), k)).alias("g")
    )
    bench = bench_df.select(F.explode(_word_kgrams(F.col(text_col), k)).alias("g")).distinct()
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc")
        .agg(F.count("*").alias("n_hits"))  # grams are distinct per doc
    )


# PII patterns shared with the SQL oracle. Deliberately restricted to
# the regex subset with identical semantics in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b, \d — no
# backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Scrub emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers,
    returning ``(doc, redacted, n_emails, n_ipv4, n_phones)``.

    The web-curation PII pass that runs between dedup and packing in a
    real training pipeline. Everything is chained ``regexp_replace`` /
    ``regexp_extract_all`` — pure JVM expressions inside whole-stage
    codegen, a narrow map with zero shuffles and zero Python, so it
    streams at scan speed over 10^12 rows. Counts are taken BEFORE
    redaction; replacement order (email → ip → phone) matters only in
    that the email pattern may contain digits/dots the later patterns
    could otherwise partially match inside the placeholder-free text.
    """
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0))).cast("long").alias(name)
        for name, p in (("n_emails", EMAIL_RE), ("n_ipv4", IPV4_RE), ("n_phones", PHONE_RE))
    ]
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return df.select(F.col(id_col).alias("doc"), red.alias("redacted"), *counts)


def chunk_text(
    df: DataFrame, id_col: str, text_col: str, chunk: int, overlap: int = 0
) -> DataFrame:
    """Split each document into overlapping token windows —
    ``(doc, chunk_id, chunk, n_tokens)`` — the context-window chunking
    step that feeds embedding and training jobs.

    Windows are ``chunk`` tokens long with ``chunk - overlap`` stride;
    the final window may be shorter. Built entirely from array
    higher-order functions (``sequence`` → ``explode`` → ``slice`` →
    ``array_join``): a narrow map followed by the explode's row
    amplification — no shuffle, no Python, and the amplification factor
    (≈ n_tokens / stride) is bounded per row, so partition sizing is
    unchanged from the source scan. Empty documents produce no chunks.
    """
    if not 0 <= overlap < chunk:
        raise ValueError(f"need 0 <= overlap < chunk, got chunk={chunk} overlap={overlap}")
    stride = chunk - overlap
    toks = T.tokens(F.col(text_col))
    # a chunk starting at s is a strict subset of its predecessor when
    # the predecessor already reaches the end (s >= n - overlap), so
    # starts stop at n - overlap - 1 — no duplicate trailing window
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(0), F.greatest(F.size(toks) - overlap - 1, F.lit(0)), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    piece = F.slice(F.col("toks"), F.col("start") + 1, chunk)
    return (
        df.select(F.col(id_col).alias("doc"), toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc",
            F.floor(F.col("start") / stride).cast("long").alias("chunk_id"),
            F.array_join(piece, " ").alias("chunk"),
            F.size(piece).cast("long").alias("n_tokens"),
        )
    )


def shuffle_shards(
    df: DataFrame, id_col: str, n_shards: int, salt: str = "shuffle"
) -> DataFrame:
    """Deterministic global training-order shuffle, sharded.

    Adds ``shard`` (content-addressed bucket in ``[0, n_shards)``) and
    ``pos`` (1-based position within the shard, ordered by a second
    independent content hash). Together ``(shard, pos)`` is a stable
    pseudo-random total order over the corpus — the order a training
    run reads — that is a pure function of the ids: invariant under
    repartitioning, rerun, and cluster size, unlike ``orderBy(rand())``.

    Scale: one shuffle (the per-shard window); shards are hash-balanced
    so every shard is ≈ n/n_shards rows and the windows sort in
    parallel. No global ``ORDER BY`` — a total order is never
    materialized through one task; readers consume shard files in shard
    order, which is how sharded training data is laid out in practice.
    """
    shard = md5_bucket(F.col(id_col), n_shards, salt=salt)
    order = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt + ":pos")))
    w = Window.partitionBy("shard").orderBy(order, F.col(id_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def _lower_tokens(text_col: Column) -> Column:
    """Lower-cased whitespace tokens (vocabulary normalization)."""
    return T.tokens(F.lower(text_col))


def vocabulary(df: DataFrame, id_col: str, text_col: str, top_n: int = 50) -> DataFrame:
    """Top-``top_n`` tokens by document frequency.

    Output: ``(token, doc_freq, term_freq)`` — documents containing the
    token, and total occurrences. Explode → two-level agg (distinct
    doc per token via a pre-distinct, then count) with map-side partial
    aggregation; the limit plans as TakeOrderedAndProject. Ties break
    on the token string so the rank-``top_n`` boundary is total-ordered
    and deterministic.
    """
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(_lower_tokens(F.col(text_col))).alias("token")
    )
    per_doc = tok.groupBy("doc", "token").agg(F.count("*").alias("n"))
    return (
        per_doc.groupBy("token")
        .agg(F.count("*").alias("doc_freq"), F.sum("n").alias("term_freq"))
        .orderBy(F.desc("doc_freq"), "token")
        .limit(top_n)
    )


def tf_idf(df: DataFrame, id_col: str, text_col: str, top_per_doc: int = 3) -> DataFrame:
    """Top-``top_per_doc`` terms per document by smoothed TF-IDF.

    ``tfidf = tf · (ln((N+1)/(df+1)) + 1)`` (the sklearn smoothing), N
    = corpus document count, rounded to 6 decimals so the value is
    robust to last-ulp libm differences between engines. Shape: explode
    → per-(doc, token) counts → token document-frequency agg →
    broadcast-friendly join back → per-doc top-k window. The df table
    is vocabulary-sized (≪ corpus), so Catalyst broadcasts it; the
    window partitions by document — millions of small partitions, no
    skew beyond a single document's vocabulary.
    """
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(_lower_tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy("doc", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    n_docs = df.count()
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf", F.round(F.col("tf") * idf, 6)
    )
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_per_doc)
        .select("doc", "token", "tf", "doc_freq", "tfidf", "rank")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs: int = 1,
    algo: str = "xxhash64",
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4/RefinedWeb boilerplate
    pass): drop every line whose trimmed content appears in more than
    ``max_docs`` distinct documents, and reassemble each document from
    its surviving lines in original order.

    Output: ``(doc, clean_text, n_lines, n_dropped)``. Blank /
    whitespace-only lines are structural, not content — they are never
    counted and never dropped. ``algo="md5"`` keys lines by the portable
    md5 hex digest so a DuckDB oracle replays the decision bit-for-bit;
    the default ``xxhash64`` stays 8 bytes wide JVM-side.

    Scale shape: lines explode map-side into ``(doc, pos, key)`` rows;
    the frequency table is one partial-agg ``groupBy(key)`` over hashed
    keys (never line text); the hot-line set — lines in > ``max_docs``
    docs, i.e. the boilerplate dictionary, tiny relative to the corpus —
    comes back as a join that AQE converts to broadcast when it fits.
    Reassembly is one ``groupBy(doc)`` whose payload is exactly the
    surviving line text (bounded by the input document size). Nothing
    ever compares line strings across documents: all matching is on the
    fixed-width key.
    """
    trimmed = F.trim(F.col("line"))
    if algo == "md5":
        key = F.md5(trimmed)
    else:
        key = F.xxhash64(trimmed).cast("string")
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("k", F.when(trimmed != "", key))
    hot = (
        lines.where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count_distinct("doc").alias("n_docs"))
        .where(F.col("n_docs") > max_docs)
        .select("k", F.lit(True).alias("hot"))
    )
    flagged = lines.join(hot, "k", "left").withColumn(
        "drop", F.coalesce(F.col("hot"), F.lit(False))
    )
    kept_struct = F.when(~F.col("drop"), F.struct("pos", "line"))
    return (
        flagged.groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.col("drop").cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select("doc", "clean_text", "n_lines", "n_dropped")
    )


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    group_col: str,
    q: float = 0.25,
    keep: str = "above",
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose score is at-or-above (``keep="above"``) or
    at-or-below (``keep="below"``) their group's ``q``-quantile,
    attaching the threshold as ``thr``.

    The per-group threshold frame has one row per group — it broadcasts
    back onto the corpus, so the filter is a map-side join: the 10^12-row
    side is never shuffled. ``exact=True`` (the oracle contract) is
    Spark's exact ``percentile`` aggregate (linear interpolation, the
    same formula as SQL ``quantile_cont``), whose per-group buffers hold
    that group's values on one reducer — fine to ~10^8 rows/group;
    beyond that ``exact=False`` switches to ``percentile_approx``
    (bounded-memory sketch, true partial agg) at ~1e-4 quantile error.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    score = F.col(score_col).cast("double")
    if exact:
        agg = F.percentile(score, F.lit(q))
    else:
        agg = F.percentile_approx(score, F.lit(q), F.lit(10000))
    thr = df.groupBy(group_col).agg(agg.alias("thr"))
    cond = score >= F.col("thr") if keep == "above" else score <= F.col("thr")
    return df.join(F.broadcast(thr), group_col).where(cond)


def source_overlap(
    df: DataFrame, group_col: str, text_col: str, k: int = 3, algo: str = "xxhash64"
) -> DataFrame:
    """Pairwise shingle-set Jaccard BETWEEN groups (sources, crawls,
    snapshots) — ``(src_a, src_b, n_a, n_b, inter, jaccard)`` — the
    corpus-overlap matrix that decides which sources to keep, cap, or
    drop before training.

    Scale shape: shingles are hashed map-side (8 B keys, never the
    strings), deduped per group — the one big shuffle, narrow
    (group, hash) rows — then self-joined on the hash. Per-hash fanout
    is bounded by the GROUP count (a shingle appears once per group
    after the distinct), not document count, so there is no hot-key
    quadratic blowup no matter how common a shingle is. Group sizes
    broadcast. ``algo="md5_32"`` makes the hash DuckDB-replayable.
    """
    w = df.select(F.col(group_col).alias("grp"), T.tokens(F.col(text_col)).alias("w"))
    idx = F.when(
        F.size("w") >= k, F.sequence(F.lit(0), F.size("w") - k)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(F.col("w"), i + j) for j in range(k)])
    )
    if algo == "md5_32":
        h = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("g"))
    sh = (
        w.select("grp", F.explode(gram).alias("g"))
        .select("grp", h.alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("grp").agg(F.count("*").alias("n"))
    a = sh.select(F.col("grp").alias("src_a"), "h")
    b = sh.select(F.col("grp").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("grp").alias("src_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("grp").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a", "src_b", "n_a", "n_b", "inter",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: Column,
    cluster_id_col: str = "cluster_id",
    cluster_member_col: str = "id",
) -> DataFrame:
    """One survivor per duplicate cluster — the canonicalization step
    every curation pipeline runs right after near-dup clustering: of
    each cluster's members, keep the highest-``quality`` one (longest
    caption, largest resolution, best quality score), breaking ties on
    the smallest id so the choice is deterministic under any partition
    layout. Returns ``(cluster_id, rep_id, rep_quality, n_members)``.

    The reference keeps dup GROUPS and leaves victim selection to its
    example cleaner, which hard-codes keep-OLDEST (examples/clean.rs —
    mtime order); this is that policy generalized to an arbitrary
    quality axis, which is what an image+caption corpus actually ranks
    by (resolution, caption length, model-scored quality).

    Scale shape: ``clusters`` is the narrow ``(id, cluster_id)``
    assignment output of connected components; the corpus joins to it
    on id projecting ONLY (id, quality) — the payload never moves —
    then one groupBy(cluster_id) with ``min_by`` over a
    ``(-quality, id)`` struct resolves max-quality/min-id in a single
    partially-aggregated shuffle (no window, no second pass, no skew:
    partial aggregation combines each partition's candidate to one row
    per cluster before the exchange, so even a 10^8-member viral
    cluster ships one row per upstream partition).
    """
    mem = clusters.select(
        F.col(cluster_member_col).alias("__id"), F.col(cluster_id_col)
    ).join(
        df.select(
            F.col(id_col).alias("__id"),
            quality_col.cast("long").alias("__q"),
        ),
        "__id",
    )
    # null quality must LOSE, not win: struct ordering sorts nulls
    # first, so an un-coalesced (-q) key would elect the member with
    # MISSING quality (null w/h, null text) over every real one —
    # coalesce to long-max sends null-quality members to the back while
    # an all-null cluster still degrades to deterministic min-id
    worst = F.lit(9223372036854775807)
    order = F.struct(
        F.coalesce(-F.col("__q"), worst).alias("nq"), F.col("__id").alias("id")
    )
    return (
        mem.groupBy(cluster_id_col)
        .agg(
            F.min_by(F.col("__id"), order).alias("rep_id"),
            F.max("__q").alias("rep_quality"),
            F.count("*").alias("n_members"),
        )
    )


def char_class_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-class distribution + entropy — the cheap
    gibberish/encoding-noise detector: natural text keeps a stable
    letter/space mix, while binary spills, base64 blobs, and
    delimiter-heavy markup skew the class distribution and the entropy
    with it. Four classes (letters, digits, whitespace, other) counted
    with length-after-regexp-delete arithmetic — pure whole-stage-
    codegen column expressions, zero shuffle, zero Python, and exactly
    replayable by any engine with global regexp_replace (no per-char
    explode: class counts need O(1) columns, not O(n_chars) rows)."""
    text = F.col(text_col)
    n = F.length(text)

    def cnt(pattern: str) -> Column:
        return n - F.length(F.regexp_replace(text, pattern, ""))

    alpha, digit, space = cnt("[A-Za-z]"), cnt("[0-9]"), cnt("\\s")
    other = n - alpha - digit - space

    def term(c: Column) -> Column:
        p = c / n
        return F.when(c > 0, -(p * F.log(p))).otherwise(F.lit(0.0))

    entropy = F.when(n > 0, term(alpha) + term(digit) + term(space) + term(other)).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        alpha.cast("long").alias("n_alpha"),
        digit.cast("long").alias("n_digit"),
        space.cast("long").alias("n_space"),
        other.cast("long").alias("n_other"),
        F.round(entropy, 6).alias("class_entropy"),
    )


def lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram language-model negative log-likelihood —
    the CCNet-style "perplexity filter" signal: documents made of
    corpus-typical tokens score low, gibberish / rare-token spills
    score high, and the downstream pipeline keeps the head of the
    distribution (pair with ``quantile_threshold_filter``).

    Model: corpus unigram MLE ``p(t) = cnt(t) / total``; score is the
    mean token NLL ``ln(total) - mean(ln cnt(t))``. OOV cannot occur
    because the model is fit on the scored corpus itself; to score
    against a *held* model, persist the ``(token, cnt)`` frame and join
    it in — same plan shape.

    Scale shape: ONE tokenize pass (the per-(doc, token) count frame is
    lazily ``localCheckpoint``-ed and fan-reused by the model agg, the
    total, and the scoring join); both aggs are explode → partial-agg
    groupBy (hot stopwords combine map-side); the model side of the
    scoring join is vocabulary-sized (≪ token instances) so AQE
    broadcasts it at sane vocab sizes; the 1-row total joins as a
    BroadcastNestedLoop. Nothing wider than (doc, token, count) ever
    crosses an exchange. Output: ``(id, n_tokens, avg_nll)``, empty /
    null texts excluded (they have no tokens to score).
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(_lower_tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy("id", "token").agg(F.count("*").alias("tf"))
    # one materialization, three consumers (model, total, scoring join)
    tf = tf.localCheckpoint(eager=False)
    model = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    per_doc = (
        tf.join(model, "token")
        .groupBy("id")
        .agg(F.sum("tf").alias("n_tokens"), F.sum(F.col("tf") * F.log("cnt")).alias("_s"))
    )
    return per_doc.crossJoin(total).select(
        "id",
        "n_tokens",
        F.round(F.log("total") - F.col("_s") / F.col("n_tokens"), 6).alias("avg_nll"),
    )


#: hashed-classifier defaults: feature space width and the weight
#: formula's two moduli (Knuth multiplicative constant, prime bucket)
CLS_DIM = 4096
_CLS_MULT = 2654435761
_CLS_PRIME = 10007


def classifier_score(
    df: DataFrame, id_col: str, text_col: str, dim: int = CLS_DIM
) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE as a pure
    narrow map — the model-based filtering stage of a curation pipeline
    (DCLM / FineWeb-Edu style) with the one property that matters at
    100 TB: scoring shuffles NOTHING. Tokens hash into ``dim`` buckets
    (hashing trick, md5-prefix so any engine replays it), each bucket
    carries a weight, a document's margin is the mean weight of its
    token stream, and the score is the sigmoid of the margin — all
    computed inside ``transform``/``aggregate`` higher-order functions
    over the token array, zero exchanges, zero Python.

    The weights here are a deterministic stand-in
    (``(bucket · 2654435761) mod 10007 / 10007 - 0.5`` — exact integer
    arithmetic in any engine); a real deployment substitutes trained
    weights by swapping ``_weight`` for a lookup against a broadcast
    array inside a pandas UDF. The plumbing — hash-bucketing, per-row
    aggregation, map-only plan — is identical either way.

    Output: ``(id, n_tokens, score)``; rows with no tokens score null.
    """

    def _weight(tok: Column) -> Column:
        # md5_bucket: the module's one portable hashing-trick recipe
        return (md5_bucket(tok, dim) * _CLS_MULT % _CLS_PRIME) / float(_CLS_PRIME) - 0.5

    toks = _lower_tokens(F.col(text_col))
    n = F.coalesce(F.size(toks), F.lit(0))  # null text -> 0 tokens
    margin = F.aggregate(F.transform(toks, _weight), F.lit(0.0), lambda acc, x: acc + x) / n
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)
    return df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, score).alias("score"),
    )


#: DSIR hashed n-gram feature width (Xie et al. use 10^4; 4096 keeps the
#: bucket formula shared with the hashed classifier)
DSIR_DIM = 4096


def _hashed_grams(text_col: Column) -> Column:
    """Lower-cased unigrams + adjacent bigrams — DSIR's bag of hashed
    n-gram features — as one string array. Bigrams come from zipping the
    token array against itself shifted by one (two O(n) slices, no
    explode), so the whole feature extraction is a narrow expression."""
    toks = _lower_tokens(text_col)
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bi)


def dsir_fit(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str,
    dim: int = DSIR_DIM,
    smoothing: float = 1.0,
) -> list:
    """Fit the DSIR importance model (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169 §2): add-λ-smoothed
    hashed-n-gram bucket distributions p (target) and q (raw corpus);
    returns the per-bucket log-ratio table ``lr[b] = ln p_b − ln q_b``
    as a plain ``dim``-length Python list.

    The fit is two partial-agg passes (explode → groupBy(bucket) —
    hot buckets combine map-side, and the result is at most ``dim``
    rows per side regardless of corpus size), so collecting the model
    to the driver is O(dim), not O(corpus). At 10^12 docs this is the
    only shuffle DSIR ever does, and its width is 12 bytes/row."""
    import math

    def _counts(df: DataFrame) -> tuple[dict, int]:
        rows = (
            df.select(F.explode(_hashed_grams(F.col(text_col))).alias("_g"))
            .select(md5_bucket(F.col("_g"), dim).alias("_b"))
            .groupBy("_b")
            .count()
            .collect()
        )
        c = {r._b: r["count"] for r in rows}
        return c, sum(c.values())

    pc, pt = _counts(target)
    qc, qt = _counts(corpus)
    lam = float(smoothing)
    return [
        math.log((pc.get(b, 0) + lam) / (pt + lam * dim))
        - math.log((qc.get(b, 0) + lam) / (qt + lam * dim))
        for b in range(dim)
    ]


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = DSIR_DIM,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-document DSIR log importance weight ``log w(x) = Σ_t
    [ln p_b(t) − ln q_b(t)]`` over the doc's hashed unigram+bigram
    stream — high means "looks like the target distribution".

    Scale shape: after the O(dim) model fit (see ``dsir_fit``), scoring
    is a ZERO-SHUFFLE narrow map — the log-ratio table rides along as a
    constant-folded array literal and each doc folds its gram stream
    through ``element_at`` lookups inside whole-stage codegen; no join,
    no Python. Empty/null texts are excluded (no feature evidence).

    Output: ``(id_col, n_grams, log_w)`` with ``log_w`` unrounded.
    """
    scored = corpus.where(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
    lr = F.lit(dsir_fit(scored, target, text_col, dim=dim, smoothing=smoothing))
    grams = _hashed_grams(F.col(text_col))
    look = F.transform(grams, lambda g: F.element_at(lr, (md5_bucket(g, dim) + 1).cast("int")))
    return scored.select(
        F.col(id_col),
        F.size(grams).cast("long").alias("n_grams"),
        F.aggregate(look, F.lit(0.0), lambda acc, x: acc + x).alias("log_w"),
    )


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    dim: int = DSIR_DIM,
    smoothing: float = 1.0,
    salt: str = ":dsir",
) -> DataFrame:
    """DSIR's Gumbel-top-k importance resample: draw ``n`` docs without
    replacement with probability ∝ w(x) by taking the top ``n`` keys
    ``log w(x) + Gumbel(u_x)`` where ``u_x`` is a content-addressed
    uniform from md5(id || salt) — deterministic, engine-portable, and
    re-runnable (the same doc always draws the same noise, the mixing
    trick ``sample_by_rates`` already uses).

    The selection is ``orderBy(key).limit(n)`` which Spark plans as
    TakeOrderedAndProject — per-partition partial top-n then a driver
    merge of n·P candidates, NOT a global sort shuffle.

    Ordering uses the ROUNDED key built from the ROUNDED log weight:
    the raw log_w is a float sum whose value depends on summation order,
    so a raw-key cutoff at rank n could select different docs in
    different engines (or runs); rounding both to 6 decimals first makes
    the rank-n boundary identical wherever the rounded inputs agree,
    with ``id_col`` breaking exact ties.

    Output: ``(id_col, log_w, key)``, both rounded.
    """
    w = dsir_weights(corpus, target, id_col, text_col, dim=dim, smoothing=smoothing)
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))  # (0,1): never 0 or 1
    key = F.round(F.round("log_w", 6) - F.log(-F.log(u)), 6)
    return (
        w.select(F.col(id_col), F.round("log_w", 6).alias("log_w"), key.alias("key"))
        .orderBy(F.desc("key"), id_col)
        .limit(n)
    )


#: bucket resolution for mixture sampling — rates quantize to 1/10000
MIX_BUCKETS = 10_000


def _mix_rates(
    df: DataFrame,
    source_col: str,
    weight_col: Column,
    targets: dict[str, float],
) -> DataFrame:
    """Shared rate computation for ``mix_weights``/``apply_mix``:
    one broadcast-sized row per source with the exact unrounded rate.

    Guards (each zeroes the rate explicitly — NOTE: F.least SKIPS nulls,
    least(1.0, NULL) = 1.0, so none of these may flow through least):
    sources missing from ``targets`` or targeted <= 0 → 0.0; sources
    with NULL or <= 0 total mass → 0.0 and excluded from the binding
    min (a zero-mass source would otherwise force T = 0 and its own
    rate to 0/0 = NaN, which Spark sorts greatest); no qualifying
    source at all (T null) → every rate 0.0. Rates within 1e-9 of 1
    snap to exactly 1.0 so the binding source's
    ``floor(rate · MIX_BUCKETS)`` threshold cannot lose its top bucket
    to floating-point (tf · (mass/tf) / mass evaluates to
    0.999…9 ≈ 5% of the time)."""
    spark = df.sparkSession
    per = df.groupBy(F.col(source_col).alias("source")).agg(F.sum(weight_col).alias("n_weight"))
    tgt = spark.createDataFrame(
        [(s, float(f)) for s, f in targets.items()], "source string, target_frac double"
    )
    joined = per.join(F.broadcast(tgt), "source", "left")
    t = joined.where((F.col("target_frac") > 0) & (F.col("n_weight") > 0)).agg(
        F.min(F.col("n_weight") / F.col("target_frac")).alias("_t")
    )
    raw = F.col("target_frac") * F.col("_t") / F.col("n_weight")
    rate = (
        F.when(F.col("target_frac").isNull() | (F.col("target_frac") <= 0), F.lit(0.0))
        .when(F.col("n_weight").isNull() | (F.col("n_weight") <= 0), F.lit(0.0))
        .when(F.col("_t").isNull(), F.lit(0.0))
        .when(raw >= 1.0 - 1e-9, F.lit(1.0))
        .otherwise(raw)
    )
    return joined.crossJoin(t).select("source", "n_weight", "target_frac", rate.alias("_rate"))


def mix_weights(
    df: DataFrame,
    source_col: str,
    weight_col: Column,
    targets: dict[str, float],
) -> DataFrame:
    """Per-source sampling rates that reshape the corpus to a target
    mixture — the "data mixing" stage of a training pipeline (e.g.
    rebalancing web/books/code source proportions by token budget).

    ``targets`` maps source → desired fraction of the OUTPUT corpus
    (by ``weight_col`` mass, e.g. a token or char count). Rates are
    down-sampling only: the achievable total is bound by the scarcest
    source, ``T = min_s(mass_s / target_s)``, every source then samples
    at ``rate_s = min(1, target_s · T / mass_s)`` — the binding source
    keeps rate 1.0 and nothing is ever upsampled. Sources missing from
    ``targets``, targeted at 0, or with zero/unknown mass get rate 0.0
    (see ``_mix_rates`` for the guard semantics).

    Scale: one partial-agg groupBy over (source, mass) — the output is
    one row per source, broadcast-sized by construction. Returns
    ``(source, n_weight, target_frac, rate)`` with display values
    rounded; ``apply_mix`` recomputes the exact unrounded rate so the
    sampling threshold is engine-replayable.
    """
    return _mix_rates(df, source_col, weight_col, targets).select(
        "source",
        "n_weight",
        F.round("target_frac", 6).alias("target_frac"),
        F.round("_rate", 6).alias("rate"),
    )


def apply_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weight_col: Column,
    targets: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Sample ``df`` to the target mixture: keep a row iff its
    content-addressed bucket falls under its source's rate threshold.

    Content addressing (``md5_bucket`` of the id, same invariance
    argument as ``hash_split``) makes the per-row keep/drop decision a
    pure function of (id, source rate): reruns over the same corpus are
    stable under repartitioning and task retries. The RATES themselves
    are recomputed from the current per-source masses, so ingesting
    data that shifts which source is scarcest moves other sources'
    thresholds and can flip previously-kept documents — an incremental
    pipeline that needs a frozen decision boundary should compute the
    rate table once and re-apply it, not recall this function per
    batch. The rate table is one row per source, broadcast onto a
    narrow filter; the only shuffle anywhere is the tiny per-source
    mass agg. The unrounded rate maps to an integer threshold
    ``floor(rate · MIX_BUCKETS)`` (with the near-1 snap from
    ``_mix_rates`` protecting the binding source's top bucket), so the
    decision is exact integer comparison in any engine.
    """
    thresholds = _mix_rates(df, source_col, weight_col, targets).select(
        F.col("source").alias("_mix_src"),
        F.floor(F.col("_rate") * MIX_BUCKETS).cast("long").alias("_thresh"),
    )
    bucket = md5_bucket(F.col(id_col), MIX_BUCKETS, salt=salt)
    return (
        df.join(F.broadcast(thresholds), F.col(source_col) == F.col("_mix_src"))
        .where(bucket < F.col("_thresh"))
        .drop("_mix_src", "_thresh")
    )


#: above this many terms the denylist hit computation switches from an
#: in-plan literal array (map-only, zero shuffle) to an exploded token
#: join against a broadcast term table
DENYLIST_LITERAL_CAP = 10_000


def denylist_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms,
    literal_cap: int = DENYLIST_LITERAL_CAP,
) -> DataFrame:
    """Blocklist screening — the wordlist-filter stage of a curation
    pipeline (C4-style bad-word lists, spam markers, blocked-domain
    tokens). Output ``(id, n_hits, matched_terms)`` per document: total
    blocklisted-token occurrences plus the sorted distinct matched
    terms (empty array when clean), over the same lower/whitespace
    tokenization as ``vocabulary`` so the DuckDB oracle replays it.

    Scale: realistic wordlists (hundreds to a few thousand terms)
    compile into the plan as a literal array, making the whole operator
    a **narrow map** — zero shuffle at any corpus size. Lists beyond
    ``literal_cap`` switch to an exploded-token join against a
    broadcast term table (same output by construction, pytest-pinned);
    there only matching tokens reach the per-doc aggregation, and the
    final left join re-attaches the (small) hit frame to the id column.
    """
    terms_n = sorted({t.lower() for t in terms})
    toks = _lower_tokens(F.coalesce(F.col(text_col), F.lit("")))
    if len(terms_n) <= literal_cap:
        term_arr = F.array(*[F.lit(t) for t in terms_n])
        # isin compiles to InSet (hash-set lookup) above 10 terms —
        # O(1) per token vs array_contains' O(|terms|) linear scan
        n_hits = F.size(F.filter(toks, lambda t: t.isin(*terms_n)))
        matched = F.array_sort(F.array_intersect(toks, term_arr))
        return df.select(
            F.col(id_col),
            n_hits.cast("long").alias("n_hits"),
            matched.alias("matched_terms"),
        )
    spark = df.sparkSession
    tdf = spark.createDataFrame([(t,) for t in terms_n], "_term string")
    tok = df.select(F.col(id_col).alias("_doc"), F.explode(toks).alias("_tok"))
    hits = (
        tok.join(F.broadcast(tdf), tok["_tok"] == tdf["_term"])
        .groupBy("_doc")
        .agg(
            F.count("*").alias("_n"),
            F.array_sort(F.collect_set("_tok")).alias("_m"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("_doc"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("_m"), F.array().cast("array<string>")).alias("matched_terms"),
        )
    )


def denylist_filter(df: DataFrame, text_col: str, terms, max_hits: int = 0) -> DataFrame:
    """Keep documents whose blocklist occurrence count is <= ``max_hits``
    — a pure in-plan predicate (no join, no shuffle), so Catalyst keeps
    it inside the scan's WholeStageCodegen span alongside any other
    pushed filters."""
    terms_n = sorted({t.lower() for t in terms})
    toks = _lower_tokens(F.coalesce(F.col(text_col), F.lit("")))
    # isin -> InSet hash lookup per token (see denylist_hits)
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*terms_n)))
    return df.where(n_hits <= max_hits)


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    cfg=None,
    threshold: float = 0.8,
) -> DataFrame:
    """Fuzzy benchmark decontamination — the near-duplicate companion
    to ``decontaminate``'s exact word-5-gram flagging (the GPT-3/PaLM
    appendix recipe: a corpus document is contaminated if its shingle
    Jaccard against ANY benchmark document clears a threshold, even
    when no 5-gram matches verbatim because of whitespace or edit
    noise).

    Pipeline: MinHash signatures on both sides → the benchmark's LSH
    band table (benchmark suites are thousands of docs → band table is
    broadcast-sized) probes the corpus band table in a **map-side
    broadcast join, so the corpus never shuffles**; the candidate
    pairs (tiny) are verified by exact word-shingle Jaccard with both
    text re-attachments broadcast. Recall at ``threshold=0.8`` with
    the default 128-perm/32-band config is 1-(1-0.8^4)^32 ≈ 1-5e-8 —
    the same argument that lets the contract oracle compute exact
    all-pairs Jaccard.

    Returns flagged pairs ``(id_col, bench_id, jaccard)`` with
    ``jaccard >= threshold``; distinct ``id_col`` values are the
    documents to drop.
    """
    from ..config import LshConfig
    from . import minhash

    cfg = cfg or LshConfig()
    # Docs shorter than one full shingle carry no k-gram evidence; the
    # whole-text fallback shingle (word_shingles) would give EVERY empty
    # doc the same signature, so one empty bench doc band-matches every
    # empty corpus doc (candidate blow-up), and identical short docs
    # would be flagged on a single degenerate shingle. Gate both sides
    # up front — the oracle's generate_series(1, len(w)-2) already
    # yields zero shingles for such docs, so this also aligns engines.
    long_enough = F.size(T.tokens(F.col(text_col))) >= cfg.shingle_k
    corpus = corpus.where(long_enough)
    bench = bench.where(long_enough)
    c_sig = minhash.add_signature(corpus.select(id_col, text_col), cfg, text_col=text_col)
    b_src = bench.select(F.col(id_col).alias("_bid"), F.col(text_col).alias("_btext"))
    b_sig = minhash.add_signature(b_src, cfg, text_col="_btext")
    c_bands = minhash.explode_bands(c_sig, cfg, id_col=id_col).withColumnRenamed("id", "_cid")
    b_bands = minhash.explode_bands(b_sig, cfg, id_col="_bid").withColumnRenamed("id", "_bid")
    # eager checkpoint for the same two-consumer reason as exact_jaccard:
    # the id-set broadcast and the verify join would otherwise both
    # recompute the signature UDF subtree
    cand = (
        c_bands.join(F.broadcast(b_bands), ["band_idx", "band_hash"])
        .select("_cid", "_bid")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # same guard as exact_jaccard: the pair set is bounded by
    # |contaminated| x |bench matches|, but a pathological corpus/bench
    # overlap can still exceed driver heap — broadcast only while the
    # measured count fits; past the bound the shuffled join is correct
    # (AQE may still convert it from runtime stats)
    n_cand = cand.count()
    cand_ids = cand.select("_cid").distinct()
    if n_cand < 2_000_000:
        cand = F.broadcast(cand)
        cand_ids = F.broadcast(cand_ids)
    sh = T.word_shingles(F.col(text_col), cfg.shingle_k)
    ca = corpus.select(F.col(id_col).alias("_cid"), sh.alias("_sha")).join(
        cand_ids, "_cid", "left_semi"
    )
    cb = bench.select(F.col(id_col).alias("_bid"), sh.alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1)), 6)
    # cand is a checkpointed (statless) frame, so without the broadcast
    # hint applied above this verify join would plan as SortMergeJoin
    # and shuffle the corpus-side shingles
    return (
        cand.join(ca, "_cid")
        .join(F.broadcast(cb), "_bid")
        .select(
            F.col("_cid").alias(id_col),
            F.col("_bid").alias("bench_id"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# corpus-level exact substring dedup (ExactSubstr)
# ---------------------------------------------------------------------------

def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 30,
    stride: int = 1,
    min_docs: int = 2,
    count_mode: str = "docs",
    algo: str = "xxhash64",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Corpus-level EXACT repeated substrings — the ExactSubstr pass of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2022): every character span covered by some ``min_len``-char
    window that occurs in >= ``min_docs`` distinct documents
    (``count_mode="docs"``) or >= ``min_docs`` times anywhere in the
    corpus including within one document (``count_mode="occurrences"``,
    the paper's exact setting). Overlapping and touching windows merge
    into maximal spans.

    Output: ``(id, span_start, span_end)`` — 0-based, half-open, merged,
    one row per maximal repeated span.

    The paper builds one corpus-wide suffix array; that is a single
    shared mutable structure no executor model fits. The Spark-native
    shape is windows-as-rows:

    * window extraction is a **narrow map**: ``sequence(0, len-L,
      stride)`` explodes each document into ``(id, pos, hash)`` rows of
      ~24 bytes — the window TEXT is hashed inside the projection and
      never leaves the map task. Total rows = total chars / stride.
      CAVEAT on ``stride > 1``: position-sampled windows are not
      content-defined, so two occurrences of a repeat hash the same
      window only when their offsets coincide mod stride — fine for
      whole-document duplicates (both at offset 0) and block-aligned
      boilerplate, blind to arbitrary-offset repeats; when those must
      survive subsampling, winnowing fingerprints (functions/text.py)
      are the alignment-free sampled substitute.
    * the frequency table is one partial-agg ``groupBy(hash)`` — hot
      boilerplate windows (the skew risk) combine map-side exactly like
      the dedup ladder's group counts.
    * the hot-window set joins back on the fixed-width hash; AQE
      broadcasts it when small and skew-splits it when a viral window
      dominates.
    * span merge is a per-document window (lag + running-group cumsum,
      the gap-sessionization idiom) — bounded by one document's own
      window count, never corpus-wide.

    ``algo="md5"`` keys windows portably so a DuckDB oracle replays the
    verdicts bit-for-bit; the default ``xxhash64`` stays 8 bytes wide.
    64-bit collisions merely add a false span at ~10^-19 per pair — use
    md5 where that matters.
    """
    if count_mode not in ("docs", "occurrences"):
        raise ValueError(f"count_mode must be 'docs' or 'occurrences', got {count_mode!r}")
    if min_len < 1 or stride < 1:
        raise ValueError("min_len and stride must be positive")
    if stride > min_len:
        # consecutive windows would leave unsampled gaps INSIDE one
        # occurrence, so even an aligned repeat could split into
        # disconnected spans — reject rather than silently under-merge
        raise ValueError(f"stride ({stride}) must not exceed min_len ({min_len})")
    text = F.col(text_col)
    win_text = text.substr(F.col("pos") + 1, F.lit(min_len))
    key = F.md5(win_text) if algo == "md5" else F.xxhash64(win_text).cast("string")
    windows = (
        df.where(F.length(text) >= min_len)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.sequence(F.lit(0), F.length(text) - min_len, F.lit(stride))
            ).alias("pos"),
            text,
        )
        .select("id", F.col("pos").cast("long").alias("pos"), key.alias("h"))
    )
    if truncate_lineage:
        # `windows` has two consumers (the frequency groupBy and the
        # hot-set join probe) whose subplans Catalyst does not
        # de-duplicate — without materialization the corpus scan + the
        # per-position window hashing run TWICE (measured: zero
        # ReusedExchange, the same defect class the ladder's
        # truncate_lineage fixes). The trade is explicit: the
        # materialized rows are ~24 B per character/stride — ~24x the
        # input text at stride 1 — written to executor-local storage.
        # When executor DISK is the binding constraint at full corpus
        # scale, set False (pay the second hash pass with zero extra
        # storage), or cut the volume itself first via stride/winnowing.
        windows = windows.localCheckpoint(eager=True)
    freq = F.count_distinct("id") if count_mode == "docs" else F.count("*")
    hot = windows.groupBy("h").agg(freq.alias("n")).where(F.col("n") >= min_docs).select("h")
    marked = windows.join(hot, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = (
        F.when(F.lag("pos").over(w).isNull(), 1)
        .when(F.col("pos") > F.lag("pos").over(w) + min_len, 1)
        .otherwise(0)
    )
    grouped = marked.withColumn("brk", brk).withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len).alias("span_end"),
        )
        .select("id", "span_start", "span_end")
    )


def strip_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 30,
    stride: int = 1,
    min_docs: int = 2,
    count_mode: str = "docs",
    algo: str = "xxhash64",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Apply :func:`repeated_spans`: cut every repeated span out of
    every document (the paper's policy — ALL occurrences go, which
    deletes both copies of a fully-duplicated document; keep-one
    whole-document semantics is ``cluster_representatives`` over the
    exact-dedup clusters instead).

    Output: ``(<id_col>, clean_text, n_spans, chars_removed)`` — the id
    column keeps the CALLER's name (unlike ``repeated_spans``, which
    normalizes to ``id``); every input row survives (zero-span
    documents pass through whole, null text stays null with zero
    counts).

    The cut is a JVM fold (``aggregate``) over each document's sorted
    span array: spans arrive pre-merged and non-overlapping from
    repeated_spans, so one left-to-right pass concatenates the kept
    gaps. The only payload shuffle is the spans join — span arrays are
    bytes per document, the text column never crosses an exchange
    (the groupBy that built spans carried (id, pos) rows only)."""
    spans = repeated_spans(
        df, id_col, text_col, min_len, stride, min_docs, count_mode, algo,
        truncate_lineage=truncate_lineage,
    )
    # rename the join key so an ``id_col`` literally named "id" never
    # collides with the spans frame's own output column
    per_doc = (
        spans.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias("_spans"))
        .withColumnRenamed("id", "_rs_id")
    )
    text = F.col(text_col)
    init = F.struct(F.lit(0).cast("long").alias("prev"), F.lit("").alias("acc"))
    step = lambda a, s: F.struct(  # noqa: E731
        s["span_end"].alias("prev"),
        F.concat(
            a["acc"], text.substr((a["prev"] + 1).cast("int"), (s["span_start"] - a["prev"]).cast("int"))
        ).alias("acc"),
    )
    fin = lambda a: F.concat(  # noqa: E731
        a["acc"], text.substr((a["prev"] + 1).cast("int"), (F.length(text) - a["prev"]).cast("int"))
    )
    clean = F.when(text.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(F.col("_spans").isNull(), text).otherwise(
            F.aggregate(F.col("_spans"), init, step, fin)
        )
    )
    removed = F.coalesce(
        F.aggregate(
            F.col("_spans"),
            F.lit(0).cast("long"),
            lambda a, s: a + (s["span_end"] - s["span_start"]),
        ),
        F.lit(0).cast("long"),
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_rs_id"], "left")
        .select(
            F.col(id_col),
            clean.alias("clean_text"),
            F.coalesce(F.size("_spans"), F.lit(0)).cast("long").alias("n_spans"),
            removed.alias("chars_removed"),
        )
    )


# ---------------------------------------------------------------------------
# C4 heuristic cleaning (web-corpus line rules)
# ---------------------------------------------------------------------------

#: a line must end in terminal punctuation to look like prose (C4 §2.2)
_TERMINAL_PUNCT_RE = r'[.!?"]$'


def c4_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 heuristic cleaning pass (Raffel et al. 2020, §2.2) —
    line-level rules plus document-level gates, returning
    ``(doc, clean_text, n_lines, n_kept_lines, has_lorem, has_brace,
    keep)``.

    Line rules (a line survives only if all hold): ends in terminal
    punctuation (``.!?"``), has at least ``min_words_per_line`` words,
    and does not contain the word "javascript". Document gates:
    contains no "lorem ipsum", no ``{`` (code marker), and keeps at
    least ``min_kept_lines`` surviving lines. ``clean_text`` is the
    surviving lines (trimmed) re-joined by newline; gate columns are
    returned rather than pre-filtered so callers can audit what a
    ``keep``-filter would drop (the same observability posture as
    ``denylist_hits``). The bad-word rule of C4 is deliberately NOT
    here — it is the separate, composable ``denylist_filter``.

    Scale shape: split → array ``filter``/``transform`` higher-order
    functions — one narrow map, zero shuffles, zero Python, and every
    predicate is RE2-subset so a DuckDB oracle (``list_filter`` +
    ``regexp_matches``) replays each line verdict bit-for-bit.
    Null text is treated as the empty page (no kept lines,
    ``keep = 0``) rather than propagating nulls through the gates.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    # \r?\n so CRLF corpora don't leave a trailing \r on every line —
    # Java's '$' would still match before it (passing the punctuation
    # rule) while RE2/DuckDB would not, and clean_text would keep the
    # stray \r bytes
    lines = F.split(text, r"\r?\n")

    def _line_ok(l: Column) -> Column:
        t = F.trim(l)
        words = F.size(F.regexp_extract_all(t, F.lit(r"\S+"), F.lit(0)))
        return (
            t.rlike(_TERMINAL_PUNCT_RE)
            & (words >= min_words_per_line)
            & ~F.contains(F.lower(t), F.lit("javascript"))
        )

    kept = F.filter(lines, _line_ok)
    has_lorem = F.contains(F.lower(text), F.lit("lorem ipsum"))
    has_brace = F.contains(text, F.lit("{"))
    n_kept = F.size(kept)
    keep = ~has_lorem & ~has_brace & (n_kept >= min_kept_lines)
    return df.select(
        F.col(id_col).alias("doc"),
        F.array_join(F.transform(kept, F.trim), "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        has_lorem.cast("int").alias("has_lorem"),
        has_brace.cast("int").alias("has_brace"),
        keep.cast("int").alias("keep"),
    )


def curate_text_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_weights: dict[str, int] | None = None,
    pack_budget: int = 500,
    min_words_per_line: int = 3,
    min_kept_lines: int = 2,
) -> DataFrame:
    """The composed text-curation recipe — clean → exact-dedup → split
    → pack, the minimal end-to-end path from raw pages to
    training-ready shards:
    ``(doc, clean_text, n_tokens, split, pack_id)``.

    Stages (each its own tested operator; this proves they COMPOSE —
    ids, columns, and determinism line up end to end):

    1. ``c4_clean`` line rules + document gates; only ``keep`` pages
       survive (narrow map).
    2. exact dedup on the CLEANED text (md5 fingerprint, smallest-id
       winner) — boilerplate removal upstream makes more dups visible
       here, which is why dedup runs after cleaning in real pipelines.
       One partial-agg groupBy + an id join.
    3. content-addressed ``hash_split`` (repartition/ingest-stable).
    4. ``pack_sequences`` per split shard under ``pack_budget`` tokens.

    Scale: stages 1 and 3 are narrow maps; stage 2 is one ~50 B/row
    shuffle (fingerprint + id); stage 4 is one shuffle on the split
    column. The text payload crosses exactly the two shuffles that
    need it, never with duplicate rows attached."""

    split_weights = split_weights or {"train": 90, "val": 5, "test": 5}
    cleaned = c4_clean(
        df, id_col, text_col,
        min_words_per_line=min_words_per_line, min_kept_lines=min_kept_lines,
    )
    kept = cleaned.filter(F.col("keep") == 1).select("doc", "clean_text")
    with_fp = kept.withColumn("fp", F.md5(F.col("clean_text")))
    winners = with_fp.groupBy("fp").agg(F.min("doc").alias("doc"))
    survivors = with_fp.join(winners, ["fp", "doc"]).select("doc", "clean_text")
    split = hash_split(survivors, "doc", split_weights).drop("bucket")
    with_tokens = split.withColumn(
        "n_tokens", T.token_count(F.col("clean_text")).cast("long")
    )
    packed = pack_sequences(with_tokens, "doc", "n_tokens", "split", budget=pack_budget)
    return packed.select("doc", "clean_text", "n_tokens", "split", "pack_id")
