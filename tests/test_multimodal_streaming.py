"""Multimodal operators + streaming dedup tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from yadf_spark.config import NearDupConfig
from yadf_spark.fixtures import codec
from yadf_spark.fixtures.images import images_df
from yadf_spark.operators import multimodal as mm
from yadf_spark.streaming import dedup as sd


# ---------------------------------------------------------------- multimodal
def test_decode_metadata(spark):
    df = images_df(spark, 32, seed=7)
    meta = mm.decode_metadata(df).toPandas().set_index("image_id")
    src = {r["image_id"]: r for r in df.select("image_id", "w", "h", "fmt").collect()}
    assert len(meta) == 32 and meta["ok"].all()
    for iid, row in meta.iterrows():
        assert row["w"] == src[iid]["w"] and row["h"] == src[iid]["h"]
        assert row["fmt"] == src[iid]["fmt"]
        assert row["n_pixels"] == row["w"] * row["h"]
        assert 0.0 <= row["mean_r"] <= 255.0


def test_decode_metadata_quarantines_bad_rows(spark):
    rows = [("good", codec.encode_png(np.zeros((4, 4, 3), np.uint8))), ("bad", b"\x00garbage")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    meta = {r["image_id"]: r for r in mm.decode_metadata(df).collect()}
    assert meta["good"]["ok"] is True
    assert meta["bad"]["ok"] is False and meta["bad"]["w"] is None


def test_resize_images(spark):
    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(8, 6, 3)
    df = spark.createDataFrame([("a", codec.encode_png(px))], "image_id string, bytes binary")
    out = mm.resize_images(df, out_w=3, out_h=4).collect()[0]
    decoded = codec.decode_image(bytes(out["bytes"]))
    assert decoded.shape == (4, 3, 3)
    # nearest-neighbor: every output pixel exists in the source
    src_px = {tuple(p) for p in px.reshape(-1, 3)}
    assert all(tuple(p) in src_px for p in decoded.reshape(-1, 3))


def test_image_embedding_normalized_and_deterministic(spark):
    df = images_df(spark, 8, seed=3)
    e1 = mm.image_embedding(df, dim=64).toPandas().set_index("image_id")
    e2 = mm.image_embedding(df, dim=64).toPandas().set_index("image_id")
    for iid in e1.index:
        v = np.asarray(e1.loc[iid, "embedding"], dtype=np.float64)
        assert len(v) == 64
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5
        assert np.allclose(v, np.asarray(e2.loc[iid, "embedding"]))


def test_frame_sample_and_video_stub(spark):
    frames = [np.full((4, 4, 3), i, np.uint8) for i in range(10)]
    vid = mm.encode_fake_video(frames)
    df = spark.createDataFrame(
        [("v1", vid), ("v2", b"\x00\x01notavideo")], "video_id string, bytes binary"
    )
    out = mm.frame_sample(df, every_n=3).toPandas()
    v1 = out[out.video_id == "v1"].sort_values("frame_idx")
    assert list(v1.frame_idx) == [0, 3, 6, 9]
    assert (v1.n_frames == 10).all()
    # sampled frames decode to the planted content
    decoded = codec.decode_image(bytes(v1.iloc[1].frame_bytes))
    assert (decoded == 3).all()
    # real video formats are a documented stub -> quarantine row
    v2 = out[out.video_id == "v2"]
    assert len(v2) == 1 and v2.iloc[0].frame_bytes is None


def test_frame_sample_max_frames(spark):
    vid = mm.encode_fake_video([np.zeros((2, 2, 3), np.uint8)] * 6)
    df = spark.createDataFrame([("v", vid)], "video_id string, bytes binary")
    out = mm.frame_sample(df, every_n=2, max_frames=2).toPandas()
    assert list(out.frame_idx) == [0, 2]


def test_frame_sample_null_and_truncated_payloads_quarantine(spark):
    """Null bytes (TypeError) and a truncated fake-container header
    (struct.error) must degrade to quarantine rows, not task failures —
    the kernel's catch must be broader than NotImplementedError."""
    good = mm.encode_fake_video([np.zeros((2, 2, 3), np.uint8)] * 2)
    rows = [("ok", good), ("null", None), ("trunc", good[:5])]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    out = mm.frame_sample(df, every_n=1).toPandas()
    assert set(out[out.frame_bytes.isna()].video_id) == {"null", "trunc"}
    assert (out[out.video_id == "ok"].n_frames == 2).all()


def test_hash_ensemble_kernels_and_quarantine(spark):
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (32, 36, 3), dtype=np.uint8)
    a, d = mm.ahash_kernel(px), mm.dhash_kernel(px)
    # deterministic, int64-signed packing
    assert (a, d) == (mm.ahash_kernel(px), mm.dhash_kernel(px))
    assert -(1 << 63) <= a < (1 << 63) and -(1 << 63) <= d < (1 << 63)
    # both are invariant to a global contrast scale (rank-preserving)
    scaled = np.clip(px.astype(np.float64) * 0.5, 0, 255).astype(np.uint8)
    assert mm.dhash_kernel(scaled) == d
    # too-small images raise (quarantined by the batch wrapper)
    with pytest.raises(ValueError):
        mm.ahash_kernel(np.zeros((4, 4, 3), np.uint8))
    rows = [
        ("good", codec.encode_png(px)),
        ("tiny", codec.encode_png(np.zeros((4, 4, 3), np.uint8))),
        ("bad", b"\x00garbage"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r["hashes"] for r in mm.with_hash_ensemble(df).collect()}
    assert got["good"] == [a, d]
    assert got["tiny"] is None and got["bad"] is None


def test_ensemble_near_dup_matches_pure_python_vote(spark):
    """The distributed band/bucket/vote plan must reproduce an all-pairs
    pure-python replay of the same kernels exactly (recall completeness
    of the banding + correctness of the vote join)."""
    from yadf_spark.fixtures.images import images_pdf

    df = images_df(spark, 64, seed=5)
    got = {
        (r.id_a, r.id_b): r.n_votes
        for r in mm.ensemble_near_dup_pairs(df).collect()
    }
    pdf = images_pdf(64, seed=5)
    hs = {}
    for rid, payload, ph in zip(pdf["image_id"], pdf["bytes"], pdf["phash"]):
        try:
            px = codec.decode_image(bytes(payload))
            hs[rid] = (int(ph), mm.ahash_kernel(px), mm.dhash_kernel(px))
        except Exception:
            pass
    ids = sorted(hs)
    expect = {}
    for i, x in enumerate(ids):
        for y in ids[i + 1:]:
            votes = sum(
                bin((hs[x][k] ^ hs[y][k]) & ((1 << 64) - 1)).count("1") <= 3
                for k in range(3)
            )
            if votes >= 2:
                expect[(x, y)] = votes
    assert expect, "fixture planted no ensemble dupes — widen it"
    assert got == expect


def test_image_embedding_rejects_non_multiple_of_4_dim(spark):
    df = images_df(spark, 2, seed=1)
    with pytest.raises(ValueError, match="multiple of 4"):
        mm.image_embedding(df, dim=66)
    with pytest.raises(ValueError, match="multiple of 4"):
        mm.embed_pixels(np.zeros((2, 2, 3), np.uint8), dim=66)


# ---------------------------------------------------------------- audio
def _clip(n, rate=16_000, ch=1, seed=0):
    rng = np.random.RandomState(seed)
    sig = (
        4_000.0 * np.sin(2.0 * np.pi * 220.0 * np.arange(n) / rate)
        + rng.randint(-300, 301, size=n)
    )
    samples = np.stack([sig] * ch, axis=1) if ch > 1 else sig[:, None]
    return np.clip(samples, -32768, 32767).astype(np.int16)


def test_audio_roundtrip_and_features(spark):
    from yadf_spark.operators import audio as au

    mono = _clip(5_000, rate=8_000, ch=1, seed=1)
    stereo = _clip(7_321, rate=44_100, ch=2, seed=2)
    rate_m, dec_m = au.decode_audio(au.encode_fake_audio(mono, 8_000))
    assert rate_m == 8_000 and np.array_equal(dec_m, mono)

    df = spark.createDataFrame(
        [
            ("m", au.encode_fake_audio(mono, 8_000)),
            ("s", au.encode_fake_audio(stereo, 44_100)),
            ("bad", b"\x00not-audio"),
        ],
        "audio_id string, bytes binary",
    )
    feats = {r["audio_id"]: r for r in au.audio_features(df).collect()}
    assert feats["bad"]["ok"] is False and feats["bad"]["n_samples"] is None
    for rid, samples, rate in (("m", mono, 8_000), ("s", stereo, 44_100)):
        row = feats[rid]
        dur, rms, peak, zcr = au.audio_feature_values(samples, rate)
        assert row["ok"] is True
        assert row["sample_rate"] == rate
        assert row["n_channels"] == samples.shape[1]
        assert row["n_samples"] == samples.shape[0]
        assert row["duration_s"] == dur and row["rms"] == rms
        assert row["peak"] == peak and row["zero_crossings"] == zcr


def test_audio_peak_handles_int16_min():
    """np.abs on raw int16 wraps -32768 to -32768; the kernel must widen
    first so hard-clipped audio reports its true peak."""
    from yadf_spark.operators import audio as au

    samples = np.array([[-32768], [1000]], dtype=np.int16)
    _, _, peak, _ = au.audio_feature_values(samples, 16_000)
    assert peak == 32768


def test_audio_segment_sample_composes(spark):
    from yadf_spark.operators import audio as au

    clip = _clip(10_000, seed=3)  # 3 segments of 4000: lens 4000/4000/2000
    df = spark.createDataFrame(
        [("a", au.encode_fake_audio(clip, 16_000)), ("bad", b"\xffgarbage")],
        "audio_id string, bytes binary",
    )
    out = au.segment_sample(df, seg_samples=4_000, every_n=2).toPandas()
    a = out[out.audio_id == "a"].sort_values("seg_idx")
    assert list(a.seg_idx) == [0, 2]
    assert list(a.seg_n_samples) == [4_000, 2_000]
    assert (a.n_segments == 3).all()
    # segments are themselves valid payloads carrying the planted PCM —
    # the composition contract with audio_features downstream
    rate, seg2 = au.decode_audio(bytes(a.iloc[1].seg_bytes))
    assert rate == 16_000 and np.array_equal(seg2, clip[8_000:])
    bad = out[out.audio_id == "bad"]
    assert len(bad) == 1 and bad.iloc[0].seg_bytes is None


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


def test_streaming_audio_near_dup_matches_batch_candidates(spark, tmp_path):
    """The SAME incremental band index, fed audio fingerprint bands via
    band_fn, must produce the batch path's candidate set regardless of
    micro-batch split — the modality plugs into the machinery unchanged."""
    from yadf_spark.operators import audio as au
    from yadf_spark.operators import minhash

    rows = []
    for base in range(4):
        rng = np.random.RandomState(300 + base)
        n = 16_000
        amps = rng.uniform(500.0, 12_000.0, size=64)
        amp = np.empty(n)
        for w, ix in enumerate(np.array_split(np.arange(n), 64)):
            amp[ix] = amps[w]
        sig = amp * np.sin(2.0 * np.pi * 440.0 * np.arange(n) / 16_000)
        clip = np.clip(sig, -32768, 32767).astype(np.int16)[:, None]
        rows.append((f"c{base}", au.encode_fake_audio(clip, 16_000)))
        noisy = np.clip(
            clip[:, 0].astype(np.int32) + rng.randint(-80, 81, size=n), -32768, 32767
        ).astype(np.int16)[:, None]
        rows.append((f"c{base}-v", au.encode_fake_audio(noisy, 16_000)))
    all_clips = spark.createDataFrame(rows, "audio_id string, bytes binary").persist()
    # split so some near-dup pairs straddle the batch boundary
    b1 = all_clips.filter(F.col("audio_id") < "c2")
    b2 = all_clips.filter(F.col("audio_id") >= "c2")

    index_dir = str(tmp_path / "aidx")
    pairs_dir = str(tmp_path / "apairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, band_fn=au.audio_band_table)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, band_fn=au.audio_band_table)

    streamed = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in minhash.candidate_pairs_from_buckets(au.audio_band_table(all_clips)).collect()
    }
    assert streamed == batch_pairs
    assert ("c0", "c0-v") in streamed  # planted variants really banded together
    all_clips.unpersist()


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
    """End-to-end: a mirrored repost collides in every canonical band
    and surfaces as a candidate pair; unrelated images do not; null
    phash rows are dropped, not crashed on."""
    from yadf_spark.operators.minhash import candidate_pairs_from_buckets

    rng = np.random.default_rng(12)
    px_a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    px_c = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    rows = [
        ("a", int(codec.perceptual_hash(px_a))),
        ("a-mirror", int(codec.perceptual_hash(px_a[:, ::-1]))),
        ("c", int(codec.perceptual_hash(px_c))),
        ("bad", None),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    pairs = candidate_pairs_from_buckets(mm.flip_invariant_bands(df))
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("a", "a-mirror") in got
    assert all("bad" not in p for p in got)


def test_incremental_index_with_flip_invariant_band_fn(spark, tmp_path):
    """flip_invariant_bands plugs into the incremental band index as a
    band_fn: a mirrored repost arriving in a LATER batch is caught
    against the history index, exactly like same-batch pairs."""
    rng = np.random.default_rng(41)
    px_a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    px_b = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    rows1 = [
        ("a", int(codec.perceptual_hash(px_a))),
        ("b", int(codec.perceptual_hash(px_b))),
    ]
    rows2 = [("a-mirror", int(codec.perceptual_hash(px_a[:, ::-1])))]
    b1 = spark.createDataFrame(rows1, "image_id string, phash long")
    b2 = spark.createDataFrame(rows2, "image_id string, phash long")

    index_dir = str(tmp_path / "fidx")
    pairs_dir = str(tmp_path / "fpairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, band_fn=mm.flip_invariant_bands)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, band_fn=mm.flip_invariant_bands)
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


# ---------------------------------------------------------------------------
# crop-resistant tile phash
# ---------------------------------------------------------------------------


def test_tile_phash_kernel_quadrant_crop_identity():
    """A standalone crop of quadrant q hashes (as a whole image) to
    exactly the source's tile-q hash — the invariant crop detection
    rests on."""
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    tiles = mm.tile_phash_kernel(px)
    assert len(tiles) == 4
    for q, (r, c) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        crop = px[r * 16 : (r + 1) * 16, c * 24 : (c + 1) * 24]
        assert codec.perceptual_hash(crop) == tiles[q]
    import pytest

    with pytest.raises(ValueError):
        mm.tile_phash_kernel(rng.integers(0, 256, size=(15, 32, 3), dtype=np.uint8))


def test_with_tile_phashes_quarantines_undecodable_and_small(spark):
    rng = np.random.default_rng(5)
    good = codec.encode_png(rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8))
    small = codec.encode_png(rng.integers(0, 256, size=(12, 12, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [("a", bytearray(good)), ("b", bytearray(b"notanimage")), ("c", bytearray(small))],
        "image_id string, bytes binary",
    )
    got = {r.image_id: r.tiles for r in mm.with_tile_phashes(df).collect()}
    assert got["a"] is not None and len(got["a"]) == 4
    assert got["b"] is None and got["c"] is None


def test_crop_near_dup_pairs_finds_planted_crop(spark):
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    crop = base[16:32, 0:16]  # quadrant 2 (r=1, c=0)
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    rows = [
        ("big", bytearray(codec.encode_png(base)), int(codec.perceptual_hash(base))),
        ("crop", bytearray(codec.encode_png(crop)), int(codec.perceptual_hash(crop))),
        ("other", bytearray(codec.encode_png(other)), int(codec.perceptual_hash(other))),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, phash long")
    got = {
        (r.id_big, r.id_crop): (r.tile_idx, r.hamming)
        for r in mm.crop_near_dup_pairs(df).collect()
    }
    assert got[("big", "crop")] == (2, 0)
    assert ("big", "other") not in got and ("other", "crop") not in got
    # payload bytes never cross an exchange: every shuffle carries only
    # ids + 8-byte hashes
    plan = mm.crop_near_dup_pairs(df)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "bytes" not in m.group(0)


# ---------------------------------------------------------------------------
# image-caption alignment
# ---------------------------------------------------------------------------


def test_caption_embedding_kernel_is_unit_norm_and_deterministic():
    a = mm.caption_embedding_kernel("a photo of a red fox")
    b = mm.caption_embedding_kernel("a photo of a red fox")
    assert np.allclose(a, b) and abs(float(np.linalg.norm(a)) - 1.0) < 1e-6
    assert not np.allclose(a, mm.caption_embedding_kernel("completely different words"))
    z = mm.caption_embedding_kernel("")
    assert float(np.linalg.norm(z)) == 0.0 and len(z) == 64


def test_caption_alignment_matches_pure_kernel_and_quarantines(spark):
    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    payload = codec.encode_png(px)
    rows = [
        ("a", bytearray(payload), "a scenic mountain view"),
        ("b", bytearray(b"garbage"), "whatever"),
        ("c", bytearray(payload), None),  # null caption -> zero text vec
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    got = {r.image_id: (r.align, r.ok) for r in mm.caption_alignment(df).collect()}
    assert got["a"] == (mm.alignment_kernel(px, "a scenic mountain view"), True)
    assert got["b"] == (None, False)
    assert got["c"] == (0.0, True)


def test_tile_and_alignment_respect_caller_id_column(spark):
    rng = np.random.default_rng(2)
    payload = codec.encode_png(rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [(7, bytearray(payload), "some caption")], "img long, data binary, cap string"
    )
    t = mm.with_tile_phashes(df, id_col="img", bytes_col="data")
    assert t.columns == ["img", "tiles"] and t.schema["img"].dataType.simpleString() == "bigint"
    a = mm.caption_alignment(df, id_col="img", bytes_col="data", caption_col="cap")
    assert a.columns == ["img", "align", "ok"]
    assert a.join(df, "img").count() == 1


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


def test_format_audit_flags_planted_lies(spark):
    px = np.random.default_rng(3).integers(0, 256, (16, 16, 3), dtype=np.uint8)
    rows = [
        ("ok-png", codec.encode_png(px), "png"),
        ("lie-png", codec.encode_png(px), "jpeg"),
        ("lie-real", b"\xff\xd8\xff\xe0" + b"\x00" * 8, "png"),
        ("garbage", b"XY", "png"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: (r["sniffed"], r["mismatch"]) for r in mm.format_audit(df).collect()}
    assert got == {
        "ok-png": ("png", False),
        "lie-png": ("png", True),
        "lie-real": ("jpeg", True),
        "garbage": ("unknown", True),
    }


def test_aspect_bucket_assignments_planted(spark):
    # square -> bucket 0; 2:1 wide -> (1344,768); 1:2 tall -> (768,1344);
    # extreme 10:1 -> the widest bucket (1536,640)
    rows = [
        ("sq", 100, 100),
        ("wide", 200, 100),
        ("tall", 100, 200),
        ("pano", 1000, 100),
        # 16/14 = 8/7 sits EXACTLY midway (linear distance) between the
        # 1:1 and 1152:896 (=9/7) buckets: both scaled keys are 2*lcm,
        # so the tie must break to the lower bucket index (0)
        ("tie", 16, 14),
    ]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    got = {
        r["image_id"]: (r["bucket_idx"], r["bucket_w"], r["bucket_h"])
        for r in mm.aspect_bucket_assignments(df).collect()
    }
    assert got["sq"] == (0, 1024, 1024)
    assert got["wide"] == (5, 1344, 768)
    assert got["tall"] == (6, 768, 1344)
    assert got["pano"] == (7, 1536, 640)
    assert got["tie"] == (0, 1024, 1024)


def test_aspect_bucket_plan_is_narrow(spark):
    df = spark.createDataFrame([("a", 10, 20)], "image_id string, w int, h int")
    plan = mm.aspect_bucket_assignments(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# video near-dup (sampled-frame phash signatures)
# ---------------------------------------------------------------------------

def _vid_frames(seed, n=4):
    r = np.random.RandomState(seed)
    return [r.randint(0, 256, (16, 16, 3)).astype(np.uint8) for _ in range(n)]


def test_video_near_dup_planted(spark):
    """A one-frame-replaced copy (3/4 slots agree) and a head trim
    (3 common slots, all agree) pair with the base; a decoy sharing a
    single frame (1/4) and an unrelated video do not; an undecodable
    payload quarantines instead of failing the job."""
    base = _vid_frames(1)
    rows = [
        ("base", bytearray(mm.encode_fake_video(base))),
        ("near", bytearray(mm.encode_fake_video(base[:-1] + [_vid_frames(99)[0]]))),
        ("trim", bytearray(mm.encode_fake_video(base[:3]))),
        ("decoy", bytearray(mm.encode_fake_video([base[0]] + _vid_frames(50, 3)))),
        ("unrel", bytearray(mm.encode_fake_video(_vid_frames(7)))),
        ("garbage", bytearray(b"\x00\x01notavideo")),
    ]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    out = {
        (r.id_a, r.id_b): (r.n_slots, r.n_agree)
        for r in mm.video_near_dup_pairs(df, min_slot_agree=0.7).collect()
    }
    assert out[("base", "near")] == (4, 3)
    assert out[("base", "trim")] == (3, 3)
    assert out[("near", "trim")] == (3, 3)
    assert not any("decoy" in p or "unrel" in p or "garbage" in p for p in out)
    # the undecodable payload contributed zero signature rows
    sigs = mm.video_signatures(df)
    assert sigs.where(F.col("video_id") == "garbage").count() == 0


def test_video_near_dup_verify_is_jvm_side(spark):
    """Below the signature checkpoint the plan must stay JVM-only: no
    Python stage in candidate banding or the xor/bit_count verify."""
    df = spark.createDataFrame(
        [("a", bytearray(mm.encode_fake_video(_vid_frames(3))))],
        "video_id string, bytes binary",
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        mm.video_near_dup_pairs(df)._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_incremental_index_with_video_band_fn(spark, tmp_path):
    """video_band_table plugs into the incremental band index as a
    band_fn: a one-frame-replaced re-encode arriving in a LATER batch
    is caught against the history index, exactly like same-batch
    pairs — videos share the image/audio modalities' persistent
    (id, band_idx, band_hash) index layout."""
    base = _vid_frames(11)
    b1 = spark.createDataFrame(
        [
            ("v-base", bytearray(mm.encode_fake_video(base))),
            ("v-other", bytearray(mm.encode_fake_video(_vid_frames(12)))),
        ],
        "video_id string, bytes binary",
    )
    b2 = spark.createDataFrame(
        [("v-copy", bytearray(mm.encode_fake_video(base[:-1] + [_vid_frames(13)[0]])))],
        "video_id string, bytes binary",
    )
    index_dir = str(tmp_path / "vidx")
    pairs_dir = str(tmp_path / "vpairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, band_fn=mm.video_band_table)
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, band_fn=mm.video_band_table)
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.option("basePath", pairs_dir).parquet(pairs_dir + "/*").collect()
    }
    assert ("v-base", "v-copy") in got
    assert ("v-base", "v-other") not in got


def test_band_index_rejects_mismatched_band_fn(spark, tmp_path):
    """The persistent band index records which band function (and
    version) wrote it; consulting it with a different one must fail
    fast — band values across functions/versions are mutually
    meaningless and the history join would silently miss duplicates
    (the Klein->D4 canonical-phash widening is exactly this hazard)."""
    b1 = spark.createDataFrame(
        [("v1", bytearray(mm.encode_fake_video(_vid_frames(21))))],
        "video_id string, bytes binary",
    )
    index_dir = str(tmp_path / "gidx")
    pairs_dir = str(tmp_path / "gpairs")
    sd.incremental_near_dup_batch(b1, 0, index_dir, pairs_dir, band_fn=mm.video_band_table)

    def stale_fn(df):
        return mm.video_band_table(df)

    stale_fn.band_fn_tag = "video-phash-slot-v0"  # a pre-upgrade version
    b2 = spark.createDataFrame(
        [("v2", bytearray(mm.encode_fake_video(_vid_frames(22))))],
        "video_id string, bytes binary",
    )
    with pytest.raises(RuntimeError, match="band function"):
        sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, band_fn=stale_fn)
    # same function keeps working
    sd.incremental_near_dup_batch(b2, 1, index_dir, pairs_dir, band_fn=mm.video_band_table)
