"""Seeded inputs for the near-duplicate benchmark, cached on disk.

Every table is a pure function of (workload, size, seed). Tables are
written as parquet with pyarrow (no Spark needed), generated in parallel
by spawned worker processes, and cached under ``.perfbench/cache`` keyed
by workload, size, seed and a hash of the generator code, so a second
run with the same seed skips generation.

* ``planted`` -- ``fixtures.images.images_pdf(n, seed)`` unchanged, with
  its planted truth labels.
* ``viral``   -- the same schema with web-scale skew: a Zipf-ranked pool
  of viral images copied hundreds to thousands of times (exact copies,
  re-captioned copies, lossy re-encodes), mega caption groups shared by
  hundreds of distinct images, and planted background rows.
* ``ingest``  -- a planted history table plus micro-batches that mix
  fresh rows with re-uploads of history rows under new ids (exact copies
  and lossy re-encodes); the re-upload manifest is the truth.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context, resource_tracker

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from yadf_spark.fixtures import codec, images

#: rows per generation task (one parquet part file each)
CHUNK = 2500


@dataclass(frozen=True)
class Sizes:
    """Input sizes. Chosen so one run of each workload, set-up included,
    fits the benchmark's time budget on a 4-vCPU host."""

    planted_rows: int = 20_000
    #: viral: pool images, their total copies, background rows
    viral_pool: int = 100
    viral_copies: int = 106_000
    viral_background: int = 1_000
    #: viral: mega caption groups and distinct images per group
    mega_groups: int = 1
    mega_size: int = 260
    #: ingest: history rows, micro-batches generated, rows per batch; one
    #: history task and two batch tasks generate in one round of workers
    history_rows: int = 2_500
    batches: int = 2
    batch_rows: int = 2_500
    reupload_share: float = 0.2


SIZES = Sizes()

_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
_TRUTH = pa.schema([("image_id", pa.string()), ("true_cluster", pa.string())])


def _rng(seed: int, *tags) -> np.random.Generator:
    key = ":".join(str(t) for t in (seed, *tags)).encode()
    return np.random.default_rng(int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big"))


def _caption(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(f"word{i:03d}" for i in rng.integers(0, 200, n_words))


def _row(
    image_id: str, payload: bytes, pixels: np.ndarray, fmt: str, caption: str, phash=None
) -> dict:
    h, w, _ = pixels.shape
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": int(w),
        "h": int(h),
        "fmt": fmt,
        "caption": caption,
        "phash": codec.perceptual_hash(pixels) if phash is None else phash,
    }


def _reencode(payload: bytes, step: int) -> tuple[bytes, np.ndarray]:
    """Lossy re-encode of a stored payload; returns it with the pixels a
    decoder would see (the phash source)."""
    out = codec.encode_jpeg(codec.decode_fake(payload), step=step)
    return out, codec.decode_fake(out)


def _write(frame: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(frame, schema=schema, preserve_index=False), path)


# ---------------------------------------------------------------- tasks
# Each task writes one part file and returns its row count; tasks run in
# spawned workers, so they take only picklable arguments.


def _planted_task(out: str, seed: int, lo: int, hi: int, id_prefix: str = "img") -> int:
    frame = images.images_pdf(hi - lo, seed=seed, offset=lo)
    if id_prefix != "img":
        frame["image_id"] = frame["image_id"].str.replace("img-", f"{id_prefix}-", regex=False)
    _write(frame, _SCHEMA, out)
    return len(frame)


def _viral_pool(seed: int, sizes: Sizes) -> list[dict]:
    """The viral pool: rank r gets ~C / sqrt(r) copies (Zipf, exponent
    0.5), so copies run from a few hundred to several thousand. Every
    16th image is 40x40 pixels, large enough that its copies reach the
    exact ladder's full-hash rung; the rest are 16x16."""
    ranks = np.arange(1, sizes.viral_pool + 1)
    weights = 1.0 / np.sqrt(ranks)
    copies = np.floor(weights / weights.sum() * sizes.viral_copies).astype(int)
    pool = []
    for r, n_copies in zip(ranks, copies):
        rng = _rng(seed, "viral", int(r))
        side = 40 if r % 16 == 1 else 16
        pixels = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
        pool.append(
            {
                "rank": int(r),
                "copies": int(n_copies),
                "payload": codec.encode_png(pixels),
                "pixels": pixels,
                "phash": codec.perceptual_hash(pixels),
                "caption": _caption(rng, 12),
            }
        )
    return pool


def _viral_task(out: str, truth_out: str, seed: int, ranks: list[int], sizes: Sizes) -> int:
    """Copies of the given pool ranks: 93 % exact copies, 3 % re-captioned
    exact copies, 4 % lossy re-encodes (quantization step 2-4, PSNR >= 46
    dB) with the original caption. All copies of one image form one truth
    cluster: byte-identical copies link through the exact ladder, and the
    re-encodes verify against the original by caption equality + PSNR."""
    pool = {p["rank"]: p for p in _viral_pool(seed, sizes)}
    frames, truth = [], []
    for r in ranks:
        p = pool[r]
        h, w, _ = p["pixels"].shape
        reencoded = {s: _reencode(p["payload"], s) for s in (2, 3, 4)}
        phashes = {s: codec.perceptual_hash(px) for s, (_, px) in reencoded.items()}
        u = _rng(seed, "viral-copies", r).random(p["copies"])
        ids = [f"vir-{r:03d}-{k:05d}" for k in range(len(u))]
        payload, fmt, caption, phash = [], [], [], []
        for k, x in enumerate(u):
            if x < 0.96:
                payload.append(p["payload"])
                fmt.append("png")
                phash.append(p["phash"])
                caption.append(
                    p["caption"] if x < 0.93 else _caption(_rng(seed, "recaption", r, k), 10)
                )
            else:
                step = 2 + k % 3
                payload.append(reencoded[step][0])
                fmt.append("jpeg")
                phash.append(phashes[step])
                caption.append(p["caption"])
        frames.append(
            pd.DataFrame(
                {"image_id": ids, "bytes": payload, "w": w, "h": h, "fmt": fmt,
                 "caption": caption, "phash": phash}
            )
        )
        truth.append(pd.DataFrame({"image_id": ids, "true_cluster": f"viral-{r:03d}"}))
    frame = pd.concat(frames, ignore_index=True)
    _write(frame, _SCHEMA, out)
    _write(pd.concat(truth, ignore_index=True), _TRUTH, truth_out)
    return len(frame)


def _mega_task(out: str, truth_out: str, seed: int, sizes: Sizes) -> int:
    """Mega caption groups: one caption shared by ``mega_size`` distinct
    images, each its own truth cluster. Their caption bands exceed the
    salting threshold, and verification must reject every pair."""
    rows, truth = [], []
    for g in range(sizes.mega_groups):
        caption = _caption(_rng(seed, "mega-caption", g), 6)
        for k in range(sizes.mega_size):
            pixels = _rng(seed, "mega", g, k).integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
            image_id = f"meg-{g}-{k:04d}"
            rows.append(_row(image_id, codec.encode_png(pixels), pixels, "png", caption))
            truth.append({"image_id": image_id, "true_cluster": image_id})
    _write(pd.DataFrame(rows), _SCHEMA, out)
    _write(pd.DataFrame(truth), _TRUTH, truth_out)
    return len(rows)


def _planted_truth_task(out: str, lo: int, hi: int, id_prefix: str = "img") -> int:
    frame = images.truth_pdf(hi - lo, offset=lo)
    if id_prefix != "img":
        frame["image_id"] = frame["image_id"].str.replace("img-", f"{id_prefix}-", regex=False)
    _write(frame, _TRUTH, out)
    return len(frame)


def _ingest_batch_task(out: str, truth_out: str, seed: int, k: int, sizes: Sizes) -> int:
    """Micro-batch ``k`` (1-based): fresh planted rows continuing the
    history's id space, then re-uploads of random history rows under new
    ids, half exact copies and half lossy re-encodes. The truth file
    lists each re-upload with the history row it copies."""
    n_re = int(sizes.batch_rows * sizes.reupload_share)
    n_fresh = sizes.batch_rows - n_re
    lo = sizes.history_rows + (k - 1) * n_fresh
    fresh = images.images_pdf(n_fresh, seed=seed, offset=lo)
    rng = _rng(seed, "reupload", k)
    picks = np.sort(rng.choice(sizes.history_rows, size=n_re, replace=False))
    rows, truth = [], []
    for j, i in enumerate(picks):
        src = images.make_row(int(i), seed)
        image_id = f"re-{k:03d}-{j:04d}"
        if j % 2 == 0:
            rows.append({**src, "image_id": image_id})
        else:
            payload, pixels = _reencode(src["bytes"], 2)
            rows.append(_row(image_id, payload, pixels, "jpeg", src["caption"]))
        truth.append({"image_id": image_id, "true_cluster": src["image_id"]})
    frame = pd.concat([fresh, pd.DataFrame(rows)], ignore_index=True)
    _write(frame, _SCHEMA, out)
    _write(pd.DataFrame(truth), _TRUTH, truth_out)
    return len(frame)


# ---------------------------------------------------------------- cache


def _code_hash() -> str:
    h = hashlib.sha256()
    for mod in (images, codec):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _tasks(workload: str, seed: int, sizes: Sizes, d: str) -> list[tuple]:
    """(function, args) per part file of the workload's tables."""
    def part(sub: str, i: int) -> str:
        os.makedirs(os.path.join(d, sub), exist_ok=True)
        return os.path.join(d, sub, f"part-{i:05d}.parquet")

    tasks = []
    if workload == "planted":
        n = sizes.planted_rows
        for i, lo in enumerate(range(0, n, CHUNK)):
            hi = min(n, lo + CHUNK)
            tasks.append((_planted_task, (part("images", i), seed, lo, hi)))
            tasks.append((_planted_truth_task, (part("truth", i), lo, hi)))
    elif workload == "viral":
        ranks = list(range(1, sizes.viral_pool + 1))
        # interleave ranks so every task gets a similar share of copies
        groups = [ranks[i::8] for i in range(8)]
        for i, grp in enumerate(groups):
            tasks.append((_viral_task, (part("images", i), part("truth", i), seed, grp, sizes)))
        tasks.append((_mega_task, (part("images", 8), part("truth", 8), seed, sizes)))
        n = sizes.viral_background
        for i, lo in enumerate(range(0, n, CHUNK), start=9):
            hi = min(n, lo + CHUNK)
            tasks.append((_planted_task, (part("images", i), seed, lo, hi, "bkg")))
            tasks.append((_planted_truth_task, (part("truth", i), lo, hi, "bkg")))
    elif workload == "ingest":
        n = sizes.history_rows
        for i, lo in enumerate(range(0, n, CHUNK)):
            tasks.append((_planted_task, (part("history", i), seed, lo, min(n, lo + CHUNK))))
        for k in range(1, sizes.batches + 1):
            tasks.append(
                (
                    _ingest_batch_task,
                    (part(f"batch-{k:03d}", 0), part(f"reuploads-{k:03d}", 0), seed, k, sizes),
                )
            )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return tasks


#: cache entries kept (most recently used first); one seed of the
#: largest workload is ~50 MB
CACHE_ENTRIES = 6


def ensure_inputs(root: str, workload: str, seed: int, workers: int) -> tuple[str, float]:
    """Return ``(input_dir, generate_seconds)``; ``generate_seconds`` is 0.0
    on a cache hit."""
    sizes = SIZES
    cache = os.path.join(root, ".perfbench", "cache")
    key = hashlib.sha256(
        json.dumps([workload, sizes.__dict__, seed, _code_hash()], sort_keys=True).encode()
    ).hexdigest()[:16]
    d = os.path.join(cache, f"{workload}-s{seed}-{key}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return d, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    tasks = _tasks(workload, seed, sizes, d)
    with ProcessPoolExecutor(max_workers=workers, mp_context=get_context("spawn")) as pool:
        futures = [pool.submit(fn, *args) for fn, args in tasks]
        for f in futures:
            f.result()
    # the spawn context started a semaphore tracker process; it would
    # otherwise live until this process exits
    resource_tracker._resource_tracker._stop()
    with open(done, "w") as f:
        f.write(workload)
    elapsed = time.perf_counter() - t0
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=lambda p: os.path.getmtime(os.path.join(p, "_DONE"))
        if os.path.exists(os.path.join(p, "_DONE"))
        else 0.0,
    )
    for stale in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(stale, ignore_errors=True)
    return d, elapsed
