"""Lexical and hybrid retrieval over the corpus — BM25 top-k, a
brute-force cosine top-k over an embedding column (the dense tier), and
reciprocal-rank fusion of rankings.

Retrieval is load-bearing inside a curation pipeline, not a separate
product: fuzzy decontamination triage, duplicate-cluster inspection,
and eval-set mining all reduce to "given a few query strings, the
top-k corpus documents". BM25 (Robertson et al.; the Lucene-style
``ln(1 + (N - df + .5)/(df + .5))`` idf) is the standard lexical
scorer; reciprocal-rank fusion (Cormack et al. 2009) combines it with
the dense cosine ranking without score calibration.

Scale shape, stage by stage:

* **Postings** are one explode → partial-agg groupBy over the corpus
  (the ``vocabulary`` posture — hot terms combine map-side); document
  lengths ride along in the same aggregation, so the corpus is
  scanned once.
* **The query side stays tiny and broadcasts.** Document frequencies
  are corpus-sized, but only the QUERY terms' rows matter: the df
  frame is cut by a broadcast semi-join on the query-term set, and the
  resulting (term, idf) table — at most ``queries × terms`` rows —
  broadcasts into the postings join. The postings frame never meets a
  shuffle it didn't already need for its own construction.
* **Scoring** is a broadcast hash join + one partial-agg groupBy on
  (query, doc); ``N`` and the average document length enter as plan
  literals (two 1-row aggregates).
* **Top-k** is a two-phase selection (``_partial_topk``), shared by
  BM25 and the dense tier: per-partition prune to q·k rows, then the
  exact window — never an n-row straggler per query.

Every formula term is float64-closed arithmetic DuckDB reproduces, so
the contract oracle replays tf, df, idf, score, cosine, and rank relationally
— no stored truth anywhere in this module.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yadf_spark.functions import text as T


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf, doc_len) — one explode + one partial-agg groupBy;
    lower-cased whitespace terms (the ``vocabulary`` normalization)."""
    toks = T.tokens(F.lower(F.col(text_col)))
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"),
                  F.size(toks).alias("doc_len"))
        .groupBy("doc", "term")
        .agg(F.count("*").cast("long").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def _partial_topk(scored: DataFrame, k: int, metric: str) -> DataFrame:
    """Per-partition top-k per query (two-phase top-k, phase 1): the k
    LARGEST ``metric`` values, ties on neighbor id.

    Without this, ``row_number() OVER (PARTITION BY query_id)`` shuffles
    every (query x corpus-row) scored pair onto one task per query — an
    n-row straggler per query at corpus scale. The partial pass keeps at
    most k rows per query per partition (running top-k across Arrow
    batches, memory O(q*k + batch)), so the final exact window sees
    q * k * partitions rows instead of q * n. Selection only — metric
    values pass through untouched, so oracle bit-identity holds."""

    def kernel(batches):
        acc = None
        for b in batches:
            cur = b if acc is None else pd.concat((acc, b), ignore_index=True)
            cur = cur.sort_values(
                ["query_id", metric, "neighbor_id"], ascending=[True, False, True]
            )
            acc = cur.groupby("query_id", sort=False).head(k)
        if acc is not None and len(acc):
            yield acc

    pruned = scored.select("query_id", "neighbor_id", metric)
    return pruned.mapInPandas(kernel, pruned.schema)


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    query_id: str = "query_id",
    query_text: str = "qtext",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """BM25 top-k per query — ``(query_id, neighbor_id, score, rank)``,
    score rounded BEFORE ranking (ties break on neighbor id), so the
    partial selection, the final window, and the oracle order
    identically. Queries sharing no term with a document never pair
    with it (the postings join is the candidate generator — no
    all-docs scoring)."""
    post = _postings(corpus, corpus_id, corpus_text)
    stats = corpus.select(
        F.size(T.tokens(F.lower(F.col(corpus_text)))).alias("n")
    ).agg(F.count("*").alias("n_docs"), F.avg("n").alias("avgdl")).first()
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"] or 0.0)
    dfreq = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qterms = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.explode(T.tokens(F.lower(F.col(query_text)))).alias("term"),
        )
        .distinct()
    )
    # corpus-sized df table cut to the query terms by a broadcast
    # semi-join, THEN idf attached — the scoring join's build side is
    # at most (queries x terms) rows
    q_idf = (
        dfreq.join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .join(F.broadcast(qterms), "term")
        .select("query_id", "term", "idf")
    )
    tf, dl = F.col("tf").cast("double"), F.col("doc_len").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl or 1.0))
    contrib = F.col("idf") * tf * F.lit(k1 + 1.0) / denom
    scored = (
        post.join(F.broadcast(q_idf), "term")
        .groupBy("query_id", F.col("doc").alias("neighbor_id"))
        .agg(F.round(F.sum(contrib), round_to).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        _partial_topk(scored, k, "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Dense tier: for each query vector the k nearest corpus vectors by
    cosine — ``(query_id, neighbor_id, cosine, rank)``, self-matches
    excluded, cosine rounded to 6 dp (0.0 for a zero vector), ties on
    neighbor id. The (small) query set broadcasts against the corpus;
    norms are computed per row and the dot product per pair runs
    JVM-side, in the oracle's ``dot / (norm_a * norm_b)`` shape so
    cosines stay bit-identical. Top-k is the same two-phase selection."""

    def side(df, id_alias, sfx):
        e = F.transform(F.col(emb_col), lambda x: x.cast("double"))
        norm = F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
        return df.select(F.col(id_col).alias(id_alias), e.alias(f"e{sfx}"), norm.alias(f"n{sfx}"))

    pairs = side(corpus, "neighbor_id", "b").crossJoin(F.broadcast(side(queries, "query_id", "a")))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    denom = F.col("na") * F.col("nb")
    scored = pairs.withColumn(
        "cosine", F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 6)
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        _partial_topk(scored, k, "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, c: int = 60, round_to: int = 6
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): each input ranking
    ``(query_id, neighbor_id, rank)`` contributes ``1 / (c + rank)``;
    fused score sums the contributions, top-``k`` re-ranked per query
    (ties on neighbor id). Calibration-free — the standard way to
    combine a lexical and a dense ranking whose scores live on
    different scales.

    Scale: the inputs are already top-k frames (q·k rows each), so the
    union + groupBy is trivially small; this operator never touches
    the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = None
    for r in rankings:
        part = r.select(
            "query_id", "neighbor_id",
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank").cast("double"))).alias("c_"),
        )
        contrib = part if contrib is None else contrib.unionByName(part)
    fused = contrib.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum("c_"), round_to).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )
