"""Image format sniffing, the canonical phash, audio near-dup pairs
and the streaming dedup tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from yadf_spark.config import NearDupConfig
from yadf_spark.fixtures import codec
from yadf_spark.fixtures.images import images_df
from yadf_spark.operators import multimodal as mm
from yadf_spark.streaming import dedup as sd


# ---------------------------------------------------------------- audio
def _clip(n, rate=16_000, ch=1, seed=0):
    rng = np.random.RandomState(seed)
    sig = (
        4_000.0 * np.sin(2.0 * np.pi * 220.0 * np.arange(n) / rate)
        + rng.randint(-300, 301, size=n)
    )
    samples = np.stack([sig] * ch, axis=1) if ch > 1 else sig[:, None]
    return np.clip(samples, -32768, 32767).astype(np.int16)


def test_audio_roundtrip_and_features():
    from yadf_spark.operators import audio as au

    mono = _clip(5_000, rate=8_000, ch=1, seed=1)
    stereo = _clip(7_321, rate=44_100, ch=2, seed=2)
    rate_m, dec_m = au.decode_audio(au.encode_fake_audio(mono, 8_000))
    assert rate_m == 8_000 and np.array_equal(dec_m, mono)
    rate_s, dec_s = au.decode_audio(au.encode_fake_audio(stereo, 44_100))
    assert rate_s == 44_100 and np.array_equal(dec_s, stereo)


def test_audio_near_dup_pairs_planted(spark):
    """Planted near-identical clips (noise/quantization variants) must
    pair up within a few Hamming bits; unrelated amplitude profiles must
    not survive the Hamming verify."""
    from yadf_spark.operators import audio as au

    rows = []
    for base in range(3):
        rng = np.random.RandomState(100 + base)
        n = 16_000
        amps = rng.uniform(500.0, 12_000.0, size=64)
        amp = np.empty(n)
        for w, ix in enumerate(np.array_split(np.arange(n), 64)):
            amp[ix] = amps[w]
        sig = amp * np.sin(2.0 * np.pi * 440.0 * np.arange(n) / 16_000)
        clip = np.clip(sig, -32768, 32767).astype(np.int16)[:, None]
        rows.append((f"b{base}", au.encode_fake_audio(clip, 16_000)))
        if base == 0:
            noisy = np.clip(
                clip[:, 0].astype(np.int32) + rng.randint(-100, 101, size=n), -32768, 32767
            ).astype(np.int16)[:, None]
            rows.append(("b0-noise", au.encode_fake_audio(noisy, 16_000)))
    rows.append(("bad", b"\x01nope"))
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    pairs = {(r.id_a, r.id_b): r.hamming for r in au.audio_near_dup_pairs(df).collect()}
    assert ("b0", "b0-noise") in pairs and pairs[("b0", "b0-noise")] <= 6
    assert all({a, b} == {"b0", "b0-noise"} for a, b in pairs)  # no cross-base pairs


def test_audio_near_dup_rejects_pigeonhole_violating_config(spark):
    """max_hamming > n_blocks - key_blocks silently loses recall (the
    differing bits can touch all but key_blocks-1 blocks, so no
    key_blocks-subset of untouched blocks is guaranteed) — the config
    must be rejected."""
    from yadf_spark.operators import audio as au

    df = spark.createDataFrame([("a", b""), ("b", b"")], "audio_id string, bytes binary")
    with pytest.raises(AssertionError, match="recall-complete"):
        au.audio_near_dup_pairs(df, max_hamming=6, n_blocks=4, block_bits=16)


# ---------------------------------------------------------------- streaming
def _write_batches(tmp_path, spark, batches):
    """Write image micro-batch parquet files that a file-source stream
    picks up in order."""
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir(exist_ok=True)
    schema = None
    for i, df in enumerate(batches):
        df.write.mode("overwrite").parquet(str(src_dir / f"b{i}.parquet"))
        schema = df.schema
    return str(src_dir), schema


def test_dedup_stream_exact(spark, tmp_path):
    base = images_df(spark, 24, seed=11).withColumn(
        "ingest_ts", F.current_timestamp()
    )
    src_dir, schema = _write_batches(tmp_path, spark, [base])
    stream = spark.readStream.schema(schema).parquet(src_dir + "/*")
    deduped = sd.dedup_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_out").count()
    distinct_payloads = base.select("bytes").distinct().count()
    assert got == distinct_payloads  # exact dups collapsed on content hash


def test_streaming_near_dup_matches_batch_candidates(spark, tmp_path):
    """The incremental band index must produce the same candidate pair
    set as the batch pipeline's one-shot self-join, regardless of how
    rows are split across micro-batches."""
    from yadf_spark.operators import minhash
    from yadf_spark.operators.pipeline import candidate_buckets

    cfg = NearDupConfig()
    all_imgs = images_df(spark, 48, seed=5).persist()
    b1 = all_imgs.filter(F.col("image_id") < "img-000000024")
    b2 = all_imgs.filter(F.col("image_id") >= "img-000000024")

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, cfg)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, cfg)

    streamed = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in minhash.candidate_pairs_from_buckets(
            candidate_buckets(all_imgs, cfg), cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
        ).collect()
    }
    assert streamed == batch_pairs
    all_imgs.unpersist()


def test_streaming_near_dup_replayed_batch_is_idempotent(spark, tmp_path):
    """Crash-replay contract: re-running a batch whose index write
    SUCCEEDED but whose checkpoint commit was lost must not duplicate
    index rows, emit self-pairs, or change the pair output."""
    from yadf_spark.operators import minhash
    from yadf_spark.operators.pipeline import candidate_buckets

    cfg = NearDupConfig()
    all_imgs = images_df(spark, 48, seed=5).persist()
    b1 = all_imgs.filter(F.col("image_id") < "img-000000024")
    b2 = all_imgs.filter(F.col("image_id") >= "img-000000024")

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, cfg)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, cfg)
    index_rows = spark.read.parquet(index_dir).count()
    pairs_before = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    # replay batch 1: its bands are already in the index
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, cfg)
    assert spark.read.parquet(index_dir).count() == index_rows
    pairs_after = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    assert pairs_after == pairs_before
    assert all(a != b for a, b in pairs_after)  # no self-pairs
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in minhash.candidate_pairs_from_buckets(
            candidate_buckets(all_imgs, cfg), cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
        ).collect()
    }
    assert pairs_after == batch_pairs
    all_imgs.unpersist()


def _bucket_band_fn(df):
    """Band fn for hand-built rows ``(id, bucket)``: one band, one bucket
    per distinct ``bucket`` value."""
    return df.select("id", F.lit(0).alias("band_idx"), F.col("bucket").alias("band_hash"))


def _ids_frame(spark, ids, bucket=1):
    return spark.createDataFrame([(i, bucket) for i in ids], "id string, bucket long")


def _batch_pairs(spark, pairs_dir, batch_id):
    rows = spark.read.parquet(f"{pairs_dir}/batch_id={batch_id}").collect()
    return {(r.id_a, r.id_b) for r in rows}


def test_replayed_batch_does_not_read_its_own_index_rows(spark, tmp_path):
    """A replay finds its own rows in batch_id=<k> from the lost attempt.
    They are not history: counted as history they push a bucket of 3
    history rows past max_bucket=4, and the replay loses the 6 history
    pairs the first attempt emitted."""
    from yadf_spark.config import LshConfig

    cfg = NearDupConfig(lsh=LshConfig(max_bucket=4))
    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    history = _ids_frame(spark, ["h1", "h2", "h3"])
    batch = _ids_frame(spark, ["n1", "n2"])
    sd.incremental_near_dup_batch(history, 0, index_dir, pairs_dir, cfg, _bucket_band_fn)
    sd.incremental_near_dup_batch(batch, 1, index_dir, pairs_dir, cfg, _bucket_band_fn)
    first = _batch_pairs(spark, pairs_dir, 1)
    assert len(first) == 7  # 2 x 3 history pairs + (n1, n2)
    sd.incremental_near_dup_batch(batch, 1, index_dir, pairs_dir, cfg, _bucket_band_fn)
    assert _batch_pairs(spark, pairs_dir, 1) == first
    assert spark.read.parquet(index_dir).count() == 5


def test_history_buckets_above_max_bucket_are_dropped_and_logged(spark, tmp_path, caplog):
    """History buckets of 5 and 6 rows exceed max_bucket=4 and give no
    pairs; the warning counts buckets, not rows; a bucket of exactly 4
    history rows is kept."""
    from yadf_spark.config import LshConfig

    cfg = NearDupConfig(lsh=LshConfig(max_bucket=4))
    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    history = (
        _ids_frame(spark, [f"a{i}" for i in range(5)], bucket=1)
        .unionByName(_ids_frame(spark, [f"b{i}" for i in range(6)], bucket=2))
        .unionByName(_ids_frame(spark, [f"c{i}" for i in range(4)], bucket=3))
    )
    batch = spark.createDataFrame(
        [("na", 1), ("nb", 2), ("nc", 3)], "id string, bucket long"
    )
    sd.incremental_near_dup_batch(history, 0, index_dir, pairs_dir, cfg, _bucket_band_fn)
    with caplog.at_level("WARNING", logger=sd.__name__):
        sd.incremental_near_dup_batch(batch, 1, index_dir, pairs_dir, cfg, _bucket_band_fn)
    assert _batch_pairs(spark, pairs_dir, 1) == {(f"c{i}", "nc") for i in range(4)}
    assert "dropped 2 history buckets larger than 4 rows" in caplog.text


def test_ingest_micro_batch_job_count(spark, tmp_path):
    """Spark jobs of one micro-batch against an existing index: each job
    is a scheduling round trip, the fixed cost of a small batch.
    Computing the band table once and reading the index once took this
    fixture from 20 jobs to 15; the bound holds it there."""
    imgs = images_df(spark, 48, seed=5)
    src = str(tmp_path / "src")
    imgs.filter(F.col("image_id") < "img-000000024").write.parquet(src + "/b0")
    imgs.filter(F.col("image_id") >= "img-000000024").write.parquet(src + "/b1")
    index_dir, pairs_dir = str(tmp_path / "index"), str(tmp_path / "pairs")
    sd.incremental_near_dup_batch(spark.read.parquet(src + "/b0"), 0, index_dir, pairs_dir)
    sc = spark.sparkContext
    group = "ingest-micro-batch-job-count"
    sc.setJobGroup(group, group)
    try:
        sd.incremental_near_dup_batch(spark.read.parquet(src + "/b1"), 1, index_dir, pairs_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 15, n_jobs


def test_compacted_band_index_equivalent(spark, tmp_path):
    """Compaction folds the per-batch index subdirs into one layer; a
    subsequent batch joined against the compacted index must produce
    exactly the pairs it would have produced against the original."""
    cfg = NearDupConfig()
    all_imgs = images_df(spark, 48, seed=5).persist()
    b1 = all_imgs.filter(F.col("image_id") < "img-000000016")
    b2 = all_imgs.filter(
        (F.col("image_id") >= "img-000000016") & (F.col("image_id") < "img-000000032")
    )
    b3 = all_imgs.filter(F.col("image_id") >= "img-000000032")

    idx = str(tmp_path / "idx")
    sd.incremental_near_dup_batch(b1, 0, idx, str(tmp_path / "p_a"), cfg)
    sd.incremental_near_dup_batch(b2, 1, idx, str(tmp_path / "p_a"), cfg)

    compacted = str(tmp_path / "idx_compact")
    sd.compact_band_index(spark, idx, compacted)
    raw = spark.read.parquet(idx).select("id", "band_idx", "band_hash")
    comp = spark.read.parquet(compacted).select("id", "band_idx", "band_hash")
    assert raw.count() == comp.count()
    assert raw.exceptAll(comp).count() == 0

    sd.incremental_near_dup_batch(b3, 2, idx, str(tmp_path / "p_orig"), cfg)
    sd.incremental_near_dup_batch(b3, 2, compacted, str(tmp_path / "p_comp"), cfg)
    orig = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", str(tmp_path / "p_orig"))
        .parquet(str(tmp_path / "p_orig") + "/*").collect()
    }
    post = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", str(tmp_path / "p_comp"))
        .parquet(str(tmp_path / "p_comp") + "/*").collect()
    }
    assert orig == post
    all_imgs.unpersist()


def test_legacy_flat_band_index_rejected_with_migration_path(spark, tmp_path):
    """A pre-round-2 FLAT index (top-level band_idx= dirs, no batch_id=
    layer) must fail fast with a migration message — appending a
    new-format batch beside it would break partition discovery mid-
    stream (ADVICE r2). compact_band_index IS the migration: it folds
    the flat layout into a batch_id=0 layer the stream then accepts."""
    cfg = NearDupConfig()
    imgs = images_df(spark, 16, seed=5).persist()
    legacy = str(tmp_path / "legacy_index")
    # write the old flat layout directly
    sd._band_table(imgs, cfg).select("id", "band_idx", "band_hash").write.partitionBy(
        "band_idx"
    ).parquet(legacy)
    with pytest.raises(RuntimeError, match="legacy flat"):
        sd.incremental_near_dup_batch(imgs, 1, legacy, str(tmp_path / "p"), cfg)
    migrated = str(tmp_path / "migrated_index")
    sd.compact_band_index(spark, legacy, migrated)
    sd.incremental_near_dup_batch(imgs, 1, migrated, str(tmp_path / "p2"), cfg)
    imgs.unpersist()


def test_band_index_rejects_mismatched_band_fn(spark, tmp_path):
    """The persistent band index records which banding wrote it: the band
    function and every config field that shapes band values. A batch
    banded another way must fail fast — plain and canonical phash bands
    never match, so the history join would silently miss duplicates."""
    imgs = images_df(spark, 24, seed=21).persist()
    b1 = imgs.filter(F.col("image_id") < "img-000000012")
    b2 = imgs.filter(F.col("image_id") >= "img-000000012")
    index_dir = str(tmp_path / "gidx")
    pairs_dir = str(tmp_path / "gpairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir)
    with pytest.raises(RuntimeError, match="band function"):
        sd.incremental_near_dup_batch(
            b2, 1, index_dir, pairs_dir, NearDupConfig(flip_invariant=True)
        )
    # the default config keeps working
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, NearDupConfig())
    imgs.unpersist()


def test_streaming_near_dup_end_to_end(spark, tmp_path):
    imgs = images_df(spark, 16, seed=9)
    src_dir, schema = _write_batches(tmp_path, spark, [imgs])
    stream = spark.readStream.schema(schema).parquet(src_dir + "/*")
    q = sd.streaming_near_dup(
        stream,
        index_dir=str(tmp_path / "idx"),
        pairs_dir=str(tmp_path / "prs"),
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    q.awaitTermination(180)
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert idx.count() > 0
    # batch_id is the replay-idempotency partition key (one subdir per
    # batch, overwritten on replay); band_idx partitions each subdir
    assert set(idx.columns) == {"id", "band_idx", "band_hash", "batch_id"}


def test_dihedral_phash_orbit_invariance():
    """canonical_phash is identical for an image and ALL EIGHT of its
    D4 transforms — flips, 180, and the rot90 family that swaps w/h on
    this deliberately NON-SQUARE image (exact when dims are multiples
    of 8): each transform lifts from pixels to a pure bit permutation."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (56, 40, 3), dtype=np.uint8)
    t = px.transpose(1, 0, 2)
    variants = [
        px, px[:, ::-1], px[::-1, :], px[::-1, ::-1],        # Klein subgroup
        t, t[::-1, :], t[:, ::-1], t[::-1, ::-1],            # rot90 family
    ]
    phs = np.array(
        [codec.perceptual_hash(np.ascontiguousarray(v)) for v in variants],
        dtype=np.int64,
    )
    assert len(set(phs.tolist())) == 8  # plain phash misses all of them
    canon = mm.canonical_phash_kernel(phs)
    assert len(set(canon.tolist())) == 1
    # the orbit of the base phash covers every transform's phash
    orbit = set(mm.dihedral_phash_orbit(phs[:1])[0].view(np.int64).tolist())
    assert set(phs.tolist()) <= orbit


def test_flip_invariant_bands_finds_mirrored_pair(spark):
    """End-to-end: under ``flip_invariant`` a mirrored repost collides in
    every canonical phash band of ``candidate_buckets`` and surfaces as a
    candidate pair; unrelated images do not; null phash rows are
    dropped, not crashed on."""
    from yadf_spark.operators.minhash import candidate_pairs_from_buckets
    from yadf_spark.operators.pipeline import candidate_buckets

    rng = np.random.default_rng(12)
    px_a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    px_c = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    rows = [
        ("a", int(codec.perceptual_hash(px_a)), ""),
        ("a-mirror", int(codec.perceptual_hash(px_a[:, ::-1])), ""),
        ("c", int(codec.perceptual_hash(px_c)), ""),
        ("bad", None, ""),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long, caption string")
    pairs = candidate_pairs_from_buckets(candidate_buckets(df, NearDupConfig(flip_invariant=True)))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("a", "a-mirror") in got
    assert all("bad" not in p for p in got)


def test_incremental_index_with_flip_invariant_band_fn(spark, tmp_path):
    """A stream run with ``flip_invariant`` bands the canonical phash:
    a mirrored repost arriving in a LATER batch is caught against the
    history index, exactly like same-batch pairs."""
    rng = np.random.default_rng(41)
    px_a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    px_b = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    rows1 = [
        ("a", int(codec.perceptual_hash(px_a)), ""),
        ("b", int(codec.perceptual_hash(px_b)), ""),
    ]
    rows2 = [("a-mirror", int(codec.perceptual_hash(px_a[:, ::-1])), "")]
    b1 = spark.createDataFrame(rows1, "image_id string, phash long, caption string")
    b2 = spark.createDataFrame(rows2, "image_id string, phash long, caption string")

    cfg = NearDupConfig(flip_invariant=True)
    index_dir = str(tmp_path / "fidx")
    pairs_dir = str(tmp_path / "fpairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, cfg=cfg)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, cfg=cfg)
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    assert ("a", "a-mirror") in got


def test_canonical_phash_orbit_closed_property():
    """Group property on raw 64-bit values: the canonical hash of ANY
    orbit member equals the canonical hash of the original — the
    invariance the banding relies on, independent of pixel semantics."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    def check(p):
        orbit = mm.dihedral_phash_orbit(np.array([p], dtype=np.int64))[0]
        canon = mm.canonical_phash_kernel(np.array([p], dtype=np.int64))[0]
        for variant in orbit.view(np.int64):
            vc = mm.canonical_phash_kernel(np.array([variant], dtype=np.int64))[0]
            assert vc == canon

    check()


def test_canonical_phash_exact_with_nulls_in_corpus(spark):
    """Regression: a null phash (undecodable payload) in the same Arrow
    batch must not corrupt neighbors — nullable long batches reach
    pandas as float64, and a 64-bit hash through a 53-bit mantissa
    changes value. The same phash must canonicalize identically with
    and without a null sharing its partition, bit-exactly."""
    big = (1 << 62) + 12345  # needs > 53 bits of mantissa
    rows = [(1, big), (2, None), (3, big)]
    df = spark.createDataFrame(rows, "id long, phash long").coalesce(1)
    out = {r.id: r.canonical_phash for r in mm.with_canonical_phash(df).collect()}
    expect = int(mm.canonical_phash_kernel(np.array([big], dtype=np.int64))[0])
    assert out[1] == expect and out[3] == expect
    assert out[2] is None


# ---------------------------------------------------------------- format sniff


def test_sniffed_format_col_matches_python_kernel(spark):
    """The JVM hex-prefix when-chain and fixtures.codec.sniff_format
    must classify every payload identically — fake-codec magics, real
    PNG/JFIF signatures, garbage, and a payload shorter than the
    longest magic (the substring-past-end path)."""
    from yadf_spark.fixtures.images import images_pdf

    payloads = [bytes(b) for b in images_pdf(32, seed=7)["bytes"]] + [
        b"\x89PNG\r\n\x1a\n" + b"\x01" * 16,
        b"\xff\xd8\xff\xe0junk",
        b"\x89PNG\r\n",  # truncated real-PNG signature: NOT png
        b"GA",  # shorter than every magic
        b"\x00" * 12,
    ]
    rows = [(f"p{i:03d}", p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {
        r["image_id"]: r["sniffed"]
        for r in df.select("image_id", mm.sniffed_format_col(F.col("bytes")).alias("sniffed")).collect()
    }
    want = {rid: codec.sniff_format(p) for rid, p in rows}
    assert got == want
    assert set(want.values()) == {"png", "jpeg", "unknown"}  # non-vacuous
