"""Streaming dedup — the engine's operators over Structured Streaming.

The reference is strictly batch (SURVEY.md §2.8); a web-scale ingest
pipeline is not: new images arrive continuously and each must be checked
against everything already ingested. Two surfaces:

* ``dedup_stream`` — exact dedup *within* the stream:
  ``dropDuplicatesWithinWatermark`` on the content hash, state bounded
  by the event-time watermark (the Spark-native replacement for a
  driver-held seen-set).

* ``streaming_near_dup`` — incremental near-dup vs the full history:
  a ``foreachBatch`` loop that keeps a compact persistent *band index*
  (id, band_idx, band_hash — the same bucket table the batch pipeline
  self-joins, operators/pipeline.py) and joins each micro-batch's bands
  against it. The index is one ``batch_id=`` subdir per micro-batch,
  each partitioned by ``band_idx``, so every batch reads every band
  partition; what keeps the history side of the join O(b) rows for a
  batch of b rows against history N is a broadcast semi-join on the
  batch's ``(band_idx, band_hash)`` keys, which drops untouched buckets
  at the scan. Each micro-batch computes its bands once and reads the
  index once.

Exactly-once posture: ``foreachBatch`` output uses batch-id-suffixed
directories + the checkpointed batch offset, so a replayed batch
overwrites its own output idempotently (Spark's documented idempotent-
sink recipe).
"""

from __future__ import annotations

import dataclasses
import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__).warning

from yadf_spark.config import NearDupConfig
from yadf_spark.functions import hashes
from yadf_spark.plans.checkpoint import fingerprint


def with_content_hash(df: DataFrame, payload_col: str = "bytes", algo: str = "xxhash64") -> DataFrame:
    """Add the trusted full-content hash column (JVM-side, codegen)."""
    return df.withColumn("content_hash", hashes.full_hash(F.col(payload_col), algo))


def dedup_stream(
    stream: DataFrame,
    event_time_col: str = "ingest_ts",
    watermark_delay: str = "10 minutes",
    payload_col: str = "bytes",
    algo: str = "xxhash64",
) -> DataFrame:
    """Exact streaming dedup: first occurrence of each content hash
    passes through; re-uploads arriving within the watermark are
    dropped. State size is bounded by (distinct hashes seen within the
    watermark window) — the knob that keeps this viable at ingest rates
    where an unbounded ``dropDuplicates`` state would OOM."""
    hashed = with_content_hash(stream, payload_col, algo)
    return hashed.withWatermark(event_time_col, watermark_delay).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def _band_table(images: DataFrame, cfg: NearDupConfig) -> DataFrame:
    """The bucket-membership table for a (micro)batch — same shape the
    batch pipeline self-joins (operators/pipeline.py candidate_buckets),
    computed here without the MinHash leg when captions are absent."""
    from yadf_spark.operators.pipeline import candidate_buckets

    return candidate_buckets(images, cfg)


def incremental_near_dup_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    pairs_dir: str,
    cfg: NearDupConfig | None = None,
    band_fn=None,
) -> None:
    """One ``foreachBatch`` tick: join the new batch's bands against the
    persistent index, emit candidate pairs, write the batch's bands into
    its own ``batch_id=`` index subdir.

    The batch's ``(id, band_idx, band_hash)`` bucket-membership table is
    the image pipeline's phash+MinHash bands under ``cfg``
    (``pipeline.candidate_buckets``). ``band_fn``, a function from the
    batch to that table, replaces it; tests use it to plant buckets.

    Each tick computes the batch's band table once and reads the history
    index once (``_touched_history``); the history-join pairs, the
    within-batch pairs and the index write all read those two frames.

    Replay safety: if the previous attempt wrote the index but lost the
    checkpoint commit, the replayed batch (a) reads history as every
    ``batch_id=`` subdir except its own — the rows it finds under its
    own id are the ones it is about to overwrite, not history, and
    counting them would push history buckets over ``max_bucket`` and
    drop real pairs — and (b) OVERWRITES its ``batch_id=`` subdir rather
    than appending duplicate index rows. The pair output of a replay is
    therefore identical to the first attempt's."""
    cfg = cfg or NearDupConfig()
    spark = batch.sparkSession
    tag = _band_fn_tag(band_fn, cfg)
    # the batch's bands, computed once: the history join, the within-batch
    # expansion and the index write all read them. Eager localCheckpoint,
    # not persist(): AQE starts the pairs write's independent branches
    # concurrently, and each would recompute the bands before a cache
    # filled; checkpoint blocks are freed by the context cleaner.
    new_bands = (
        (band_fn(batch) if band_fn else _band_table(batch, cfg))
        .select("id", "band_idx", "band_hash")
        .localCheckpoint(eager=True)
    )

    pair_frames = []
    if _index_exists(spark, index_dir):
        _reject_legacy_layout(spark, index_dir)
        _check_band_fn_tag(spark, index_dir, tag)
        max_bucket = cfg.lsh.max_bucket
        history = _touched_history(spark, index_dir, batch_id, new_bands, max_bucket)
        n_dropped = history.filter(F.col("_hn") > max_bucket).count()
        if n_dropped:
            _log(
                f"incremental-near-dup: dropped {n_dropped} history buckets "
                f"larger than {max_bucket} rows"
            )
        new = new_bands.select(F.col("id").alias("id_new"), "band_idx", "band_hash")
        nv_old = (
            new.join(
                history.filter(F.col("_hn") <= max_bucket).drop("_hn"),
                ["band_idx", "band_hash"],
            )
            .select(
                F.least("id_new", "id_old").alias("id_a"),
                F.greatest("id_new", "id_old").alias("id_b"),
            )
            # an id re-sent under an earlier batch_id is in both sides;
            # least/greatest of equal ids would emit a self-pair. Per-key
            # skew in this join is bounded by the cap and split by AQE's
            # skew join.
            .filter(F.col("id_a") != F.col("id_b"))
        )
        pair_frames.append(nv_old)

    # within-batch pairs through the SAME salted, capped expansion the
    # batch pipeline uses — a viral bucket in one micro-batch (e.g. a
    # replayed backfill) must not pin a single reducer or emit O(n^2)
    # rows uncapped (it previously did: plain unsalted self-join)
    from yadf_spark.operators.minhash import candidate_pairs_from_buckets

    nv_new = candidate_pairs_from_buckets(
        new_bands, cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
    )
    pair_frames.append(nv_new)

    pairs = pair_frames[0]
    for extra in pair_frames[1:]:
        pairs = pairs.unionByName(extra)
    pairs = pairs.distinct()

    out_path = os.path.join(pairs_dir, f"batch_id={batch_id}")
    pairs.write.mode("overwrite").parquet(out_path)

    # The index write is keyed by batch_id (overwrite of a batch_id=
    # subdir, like the pairs sink) so a batch replayed after a failure
    # between index write and checkpoint commit REPLACES its own rows
    # instead of appending duplicates — true idempotent replay. The
    # subdir name doubles as a partition column on read, which lets the
    # history read skip the batch's own subdir.
    new_bands.write.mode("overwrite").partitionBy("band_idx").parquet(
        os.path.join(index_dir, f"batch_id={batch_id}")
    )
    _write_band_fn_tag(spark, index_dir, tag)


def _touched_history(
    spark, index_dir: str, batch_id: int, new_bands: DataFrame, max_bucket: int
) -> DataFrame:
    """The history side of the band join, read from the index once and
    materialized: ``(band_idx, band_hash, id_old, _hn)`` for every history
    row in a bucket the batch touches that holds ``_hn <= max_bucket``
    history rows, plus one row (``id_old`` NULL) per touched bucket above
    the cap.

    History is every ``batch_id=`` subdir but this batch's own (see the
    replay note in ``incremental_near_dup_batch``); the batch_id filter
    prunes that subdir from the scan. The batch's band keys broadcast to
    a semi-join that prunes the index down to touched buckets. Bucket
    sizes come from a partial-aggregated ``groupBy().count()`` joined
    back to the rows — never a window, which would gather a viral bucket
    on one task (the skew rule of ``operators/exact.py``). Buckets above
    the cap are dropped — the same recall trade as
    ``candidate_pairs_from_buckets``: a viral bucket in the accumulated
    index would otherwise fan each new member out unboundedly — and
    their marker rows let the caller log how many were dropped without
    reading the index again."""
    old = (
        spark.read.parquet(index_dir)
        .filter(F.col("batch_id") != F.lit(batch_id))
        .select(F.col("id").alias("id_old"), "band_idx", "band_hash")
    )
    # no distinct(): repeated keys cannot change a semi-join's output, and
    # a distinct would cost a shuffle round (one more Spark job) per batch
    keys = new_bands.select("band_idx", "band_hash")
    touched = old.join(F.broadcast(keys), ["band_idx", "band_hash"], "left_semi")
    sizes = touched.groupBy("band_idx", "band_hash").agg(F.count("*").alias("_hn"))
    kept = touched.join(sizes.filter(F.col("_hn") <= max_bucket), ["band_idx", "band_hash"])
    dropped = sizes.filter(F.col("_hn") > max_bucket).select(
        "band_idx",
        "band_hash",
        F.lit(None).cast(old.schema["id_old"].dataType).alias("id_old"),
        "_hn",
    )
    # lazy: the caller's dropped-bucket count is the first action and
    # materializes it, one job fewer than an eager checkpoint plus a count
    return kept.unionByName(dropped).localCheckpoint(eager=False)


def compact_band_index(spark, index_dir: str, out_dir: str) -> None:
    """Fold a batch_id-partitioned band index into one compact layer.

    Each micro-batch writes its own ``batch_id=`` subdir (replay
    idempotency); after many batches the directory listing is O(batches)
    small files. This maintenance job (run it OFFLINE — with the stream
    stopped or against a snapshot) rewrites the whole index as a single
    ``batch_id=0`` layer partitioned by ``band_idx``, ``distinct``-ed so
    any residue collapses. Write goes to a NEW directory — object stores
    have no atomic rename, so the caller switches ``index_dir`` to
    ``out_dir`` (and may resume appending batch subdirs beside it, with
    batch ids above 0: a batch 0 would overwrite the compacted layer)."""
    idx = spark.read.parquet(index_dir).select("id", "band_idx", "band_hash").distinct()
    idx.write.mode("overwrite").partitionBy("band_idx").parquet(
        os.path.join(out_dir, "batch_id=0")
    )


#: marker file at the index root recording WHICH banding (function,
#: version and band-shaping config) wrote the index — band values from
#: different bandings are mutually meaningless, and a silent mix would
#: make the history join miss duplicates without any error (plain and
#: canonical phash bands never match, and neither do MinHash bands
#: built with another num_perm, bands, shingle_k or seed)
_BAND_FN_META = "_band_fn_tag"

#: version of the default (image phash + MinHash caption) banding
_DEFAULT_BAND_TAG = "image-phash-minhash-v1"


def _band_fn_tag(band_fn, cfg: NearDupConfig) -> str:
    """The index ownership tag: a custom ``band_fn``'s name, or the
    default banding's version plus the fingerprint of every ``cfg``
    field that changes band values. The bucket caps
    (``salt_bucket_above``, ``max_bucket``) shape pairs, not bands, and
    stay out of it."""
    if band_fn is not None:
        return getattr(band_fn, "__name__", "custom")
    lsh = dataclasses.asdict(cfg.lsh)
    del lsh["salt_bucket_above"], lsh["max_bucket"]
    shape = {
        "lsh": lsh,
        "phash_bands": cfg.phash_bands,
        "phash_band_bits": cfg.phash_band_bits,
        "flip_invariant": cfg.flip_invariant,
    }
    return f"{_DEFAULT_BAND_TAG}:{fingerprint(shape)}"


def _tag_path(spark, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, _BAND_FN_META))
    return p, p.getFileSystem(conf), jvm


def _check_band_fn_tag(spark, index_dir: str, tag: str) -> None:
    """Fail fast when the running banding (function, version or
    band-shaping config) is not the one that wrote the existing index.
    Indexes written before this guard carry no marker; they are
    accepted as-is (the marker is added on their next batch) — the guard
    protects every index written from now on."""
    p, fs, jvm = _tag_path(spark, index_dir)
    if not fs.exists(p):
        return
    existing = jvm.org.apache.commons.io.IOUtils.toString(
        fs.open(p), "UTF-8"
    ).strip()
    if existing != tag:
        raise RuntimeError(
            f"band index at {index_dir!r} was written by band function "
            f"{existing!r} but this stream bands with {tag!r} — the band "
            "values are mutually meaningless and history matches would be "
            "silently missed. Rebuild the index with the current band "
            "function and config (re-band the history corpus into a fresh "
            "index_dir, or replay the stream from scratch), or run the "
            "function and config that wrote it."
        )


def _write_band_fn_tag(spark, index_dir: str, tag: str) -> None:
    """Record (idempotently) which band function owns this index."""
    p, fs, _ = _tag_path(spark, index_dir)
    if fs.exists(p):
        return
    out = fs.create(p, True)
    try:
        out.write(bytearray(tag, "utf-8"))
    finally:
        out.close()


def _reject_legacy_layout(spark, path: str) -> None:
    """Fail fast on a pre-round-2 FLAT band index (top-level ``band_idx=``
    dirs, no ``batch_id=`` layer). Appending a new-format batch beside it
    would mix partition depths in one directory and
    ``spark.read.parquet`` would fail partition discovery with an
    opaque "conflicting directory structures" error mid-stream — raise a
    clear migration message instead (ADVICE r2)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    for st in fs.listStatus(p):
        if st.isDirectory() and st.getPath().getName().startswith("band_idx="):
            raise RuntimeError(
                f"band index at {path!r} uses the legacy flat band_idx= layout; "
                "migrate it first: compact_band_index(spark, old_dir, new_dir) "
                "folds it into a batch_id=0 layer, then point the stream at "
                "new_dir"
            )


def _index_exists(spark, path: str) -> bool:
    """Non-empty band index at ``path``? Hadoop-FS check so the index
    can live on any scheme Spark reads (local, hdfs, s3a)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.startswith("part-"):
            return True
    return False


def streaming_near_dup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    cfg: NearDupConfig | None = None,
    band_fn=None,
    trigger: dict | None = None,
):
    """Wire the incremental near-dup loop onto a streaming DataFrame.
    Returns the started ``StreamingQuery``; callers own its lifecycle
    (``processAllAvailable``/``stop`` in tests, run-forever in prod).
    ``cfg`` and ``band_fn`` pass through to
    ``incremental_near_dup_batch``. ``trigger`` passes through to
    ``writeStream.trigger`` — the default ``availableNow=True`` drains
    what exists and STOPS (batch-catchup semantics); a run-forever
    deployment over a continuous source passes e.g.
    ``{"processingTime": "30 seconds"}``."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: incremental_near_dup_batch(df, bid, index_dir, pairs_dir, cfg, band_fn)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
