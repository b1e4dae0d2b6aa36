"""Near-duplicate detection benchmark.

    python3 perfbench/run.py --workload viral --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout and measures the ``yadf_spark``
package found there. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (both listed in BENCHMARK.json; see README.md here).

Batch workloads (``viral``, ``planted``): set-up starts the session. Each
timed operation is one fused ``near_dup_pipeline`` call over the seeded
parquet input with a lazy ``Checkpointer``, forced through a ``noop``
sink -- a dedup job from input to complete result, the first one in a
fresh session like every scheduled batch job. Between operations the
run releases every frame it made.

``ingest``: set-up starts the session and builds the band index over the
history (micro-batch 0). Each timed operation is one
``incremental_near_dup_batch`` call, in a closed loop with one client;
the index keeps growing, as in a running stream.

Traced run (``--trace 1``): the same set-up, then traced passes that
call each layer in turn under its own Spark job group, each layer ending
in an eager ``localCheckpoint``; the Spark event log attributes stage
metrics to the layers. Both runs check their outputs the same way.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: local[nproc-1]: one core is left to the driver and the Python side
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
#: explicit driver heap; the session factory's default is larger than
#: small hosts have
DRIVER_MEMORY = "4g"
#: quality gates (BASELINE.json: dup-pair recall >= 0.99)
MIN_RECALL = 0.99
MIN_PRECISION = 0.99

BATCH_LAYERS = ("exact", "buckets", "pairs", "verify", "components")


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _program_version() -> str:
    """Hash of the package source: reference counts are per code version."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "yadf_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


class Run:
    """One benchmark run: a Spark session in a private scratch directory
    inside the checkout, removed when the run ends."""

    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.ref: dict | None = None
        self.recall: float | None = None

    def note(self, what: str, t0: float) -> None:
        """Phase timing on stderr, for reading a run by eye."""
        print(f"perfbench: {what} {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def start_session(self) -> float:
        from yadf_spark.session import get_spark

        for sub in ("local", "tmp", "events", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.dir, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cores=CORES,
            driver_memory=DRIVER_MEMORY,
            extra_conf=conf,
        )
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.note("session", t0)
        return self.layer["session.start_s"]

    # ------------------------------------------------------- correctness
    def matches_reference(self, counts: dict) -> bool:
        """Stage row counts and the cluster count must equal those of the
        first operation on this seed: the first one recorded, beside the
        cached input, by any run of the same code."""
        if self.ref is None:
            path = os.path.join(self.input, f"reference-{_program_version()}.json")
            if os.path.exists(path):
                with open(path) as f:
                    self.ref = json.load(f)
            else:
                with open(path, "w") as f:
                    json.dump(counts, f)
                self.ref = counts
        return self.check(counts == self.ref, f"counts {counts} != first operation's {self.ref}")

    def quality(self, clusters) -> bool:
        """Dup-pair recall and precision against the truth labels; computed
        once per run, on its first operation."""
        from yadf_spark.operators import pipeline

        if self.recall is not None:
            return True
        t = time.perf_counter()
        truth = self.spark.read.parquet(os.path.join(self.input, "truth"))
        self.recall = pipeline.dup_pair_recall_distributed(clusters, truth)
        precision = pipeline.dup_pair_precision_distributed(clusters, truth)
        self.note(f"quality gates (recall {self.recall}, precision {precision})", t)
        return self.check(
            self.recall >= MIN_RECALL, f"dup_pair_recall {self.recall} < {MIN_RECALL}"
        ) & self.check(precision >= MIN_PRECISION, f"dup_pair_precision {precision} < {MIN_PRECISION}")

    # ------------------------------------------------------- batch modes
    def fused_op(self, images) -> tuple[float, dict, object]:
        """One timed operation; counting happens after the clock stops."""
        from yadf_spark.operators.pipeline import near_dup_pipeline
        from yadf_spark.plans.checkpoint import Checkpointer

        t0 = time.perf_counter()
        res = near_dup_pipeline(
            images, checkpointer=Checkpointer(spark=self.spark, workdir=None, eager=False)
        )
        res["clusters"].write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        counts = {m["stage"]: m["rows"] for m in res["metrics_fn"]()}
        counts["clusters"] = res["clusters"].select("cluster_id").distinct().count()
        return wall, counts, res["clusters"]

    def release(self) -> None:
        """Run isolation between batch operations (probes.release), with the
        executor storage held before and after it on stderr."""
        from probes import release, storage

        before = storage(self.spark)
        release(self.spark)
        after = storage(self.spark)
        print(
            f"perfbench: storage {before[0]:.1f} MB in {before[1]} RDDs before release, "
            f"{after[0]:.1f} MB in {after[1]} after",
            file=sys.stderr,
            flush=True,
        )

    def batch(self) -> dict:
        setup_s = self.start_session()
        images = self.spark.read.parquet(os.path.join(self.input, "images"))
        n_rows = _rows(os.path.join(self.input, "images"))
        if self.args.trace:
            return self.batch_traced(images, n_rows)
        walls = []
        t_meas = time.perf_counter()
        while True:
            self.attempted += 1
            t = time.perf_counter()
            try:
                wall, counts, clusters = self.fused_op(images)
            except Exception as exc:  # an operation that raises counts as failed
                self.failed += 1
                self.check(False, f"operation raised {exc!r}"[:300])
                break
            self.note(f"operation ({wall:.2f} s fused)", t)
            walls.append(wall)
            if not (self.matches_reference(counts) & self.quality(clusters)):
                self.failed += 1
            del clusters
            if time.perf_counter() - t_meas >= self.args.seconds:
                break
            self.release()
        p50 = _median(walls)
        return {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (p50, "s"),
            "images_per_sec": (n_rows / p50 if p50 else 0.0, "img/s"),
            "recall": (self.recall or 0.0, "ratio"),
        }

    def traced_pass(self, tracer, images, tag: str, n_rows: int) -> dict:
        """Call each layer in turn, each ending in an eager localCheckpoint;
        counts are taken after the pass, outside every span."""
        from pyspark.sql import functions as F
        from yadf_spark.config import NearDupConfig
        from yadf_spark.operators import components, exact, minhash, verify
        from yadf_spark.operators.pipeline import (
            candidate_buckets,
            collapse_to_representatives,
            exact_edges,
        )

        cfg = NearDupConfig()
        t0 = time.perf_counter()
        with tracer.span("exact", tag):
            assignments = exact.exact_assignments(images).localCheckpoint(eager=True)
        with tracer.span("buckets", tag):
            reps = collapse_to_representatives(images, assignments).localCheckpoint(eager=True)
            buckets = candidate_buckets(reps, cfg).localCheckpoint(eager=True)
        with tracer.span("pairs", tag):
            cands = minhash.candidate_pairs_from_buckets(
                buckets, cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
            ).localCheckpoint(eager=True)
        with tracer.span("verify", tag):
            verified = verify.verify_pairs(
                cands, images, psnr_min_db=cfg.psnr_min_db
            ).localCheckpoint(eager=True)
        with tracer.span("components", tag):
            dup_edges = (
                verified.filter(F.col("verified"))
                .select("id_a", "id_b")
                .unionByName(exact_edges(assignments))
            )
            assignment = components.connected_components(
                dup_edges, max_iterations=cfg.max_cc_iterations
            ).localCheckpoint(eager=True)
            clusters = components.clusters_with_singletons(images, assignment).localCheckpoint(
                eager=True
            )
        wall = time.perf_counter() - t0

        n_cands = cands.count()
        counts = {
            "exact_ladder": assignments.count(),
            "candidate_buckets": buckets.count(),
            "candidate_pairs": n_cands,
            "verify": verified.count(),
            "connected_components": assignment.count(),
            "clusters": clusters.select("cluster_id").distinct().count(),
        }
        if not (self.matches_reference(counts) & self.quality(clusters)):
            self.failed += 1
        scan = exact.scan_stats(assignments).first()
        bucket_stats = (
            buckets.groupBy("band_idx", "band_hash")
            .count()
            .agg(
                F.max("count").alias("largest"),
                F.count(F.when(F.col("count") > cfg.lsh.salt_bucket_above, True)).alias("salted"),
            )
            .first()
        )
        edges = (
            dup_edges.select(F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        threshold = inspect.signature(components.connected_components).parameters[
            "driver_threshold"
        ].default
        return {
            "wall": wall,
            "exact.rows_full_hashed": scan["full"],
            "exact.dup_rows": scan["duplicates"],
            "buckets.rows": counts["candidate_buckets"],
            "collapse.kept_ratio": reps.count() / n_rows,
            "pairs.out": n_cands,
            "pairs.max_bucket": bucket_stats["largest"] or 0,
            "pairs.salted_buckets": bucket_stats["salted"],
            "verify.yield": verified.filter(F.col("verified")).count() / n_cands if n_cands else 0.0,
            "components.edges": edges,
            "components.path": 1 if edges > threshold else 0,
        }

    def batch_traced(self, images, n_rows: int) -> dict:
        from probes import Tracer, jvm_gc_s

        tracer = Tracer(self.spark)
        gc0 = jvm_gc_s(self.spark)
        passes = []
        t_meas = time.perf_counter()
        while True:
            tag = f"pass{len(passes)}"
            self.attempted += 1
            t = time.perf_counter()
            try:
                passes.append(self.traced_pass(tracer, images, tag, n_rows))
            except Exception as exc:
                self.failed += 1
                self.check(False, f"traced pass raised {exc!r}"[:300])
                break
            self.note(f"traced pass ({passes[-1]['wall']:.2f} s in layers)", t)
            self.release()
            if time.perf_counter() - t_meas >= self.args.seconds:
                break
        self.layer["jvm.gc_s"] = jvm_gc_s(self.spark) - gc0
        self.record_storage()
        tags = [f"pass{i}" for i in range(len(passes))]
        for key in passes[0] if passes else ():
            if key != "wall":
                self.layer[key] = _median([p[key] for p in passes])
        for layer in BATCH_LAYERS:
            self.layer[f"{layer}.self_s"] = _median([tracer.durations(t)[layer] for t in tags])
        walls = [p["wall"] for p in passes]
        self.layer["trace.wall_s"] = _median(walls)
        self.layer["trace.span_coverage"] = _median(
            [tracer.coverage(t, w) for t, w in zip(tags, walls)]
        )
        self.layer["trace.passes"] = len(passes)
        self.check(
            self.layer["trace.span_coverage"] >= 0.99,
            f"layer spans cover {self.layer['trace.span_coverage']:.3f} of the traced wall",
        )
        self.traced_groups = [(layer, t) for layer in BATCH_LAYERS for t in tags]
        return {}

    def record_storage(self) -> None:
        from probes import storage

        mb, n_rdds = storage(self.spark)
        self.layer["storage.retained_mb"] = mb
        self.layer["storage.rdds_retained"] = n_rdds

    # --------------------------------------------------------- ingest mode
    def index_stats(self) -> tuple[int, int]:
        files = size = 0
        for d, _, names in os.walk(self.index_dir):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return files, size

    def ingest_batch(self, k: int, tracer) -> tuple[float, dict]:
        """Micro-batch ``k``: (wall seconds, per-batch counts). Every planted
        re-upload must come out as a candidate pair with its original."""
        from contextlib import nullcontext

        from pyspark.sql import functions as F
        from yadf_spark.streaming.dedup import incremental_near_dup_batch

        batch_path = os.path.join(self.input, f"batch-{k:03d}")
        files0, bytes0 = self.index_stats()
        span = tracer.span("streaming", f"batch{k}") if tracer else nullcontext()
        t0 = time.perf_counter()
        with span:
            incremental_near_dup_batch(
                self.spark.read.parquet(batch_path), k, self.index_dir, self.pairs_dir
            )
        wall = time.perf_counter() - t0
        pairs = self.spark.read.parquet(os.path.join(self.pairs_dir, f"batch_id={k}"))
        found = {
            (r["id_a"], r["id_b"]) for r in pairs.filter(F.col("id_b").startswith("re-")).collect()
        }
        reup = self.spark.read.parquet(os.path.join(self.input, f"reuploads-{k:03d}")).collect()
        want = {tuple(sorted((r["image_id"], r["true_cluster"]))) for r in reup}
        files1, bytes1 = self.index_stats()
        return wall, {
            "rows": _rows(batch_path),
            "reuploads": len(want),
            "found": len(want & found),
            "pairs_out": pairs.count(),
            "index_files": files1 - files0,
            "index_bytes": bytes1 - bytes0,
        }

    def ingest(self) -> dict:
        from probes import Tracer, jvm_gc_s
        from yadf_spark.streaming.dedup import incremental_near_dup_batch

        self.index_dir = os.path.join(self.dir, "index")
        self.pairs_dir = os.path.join(self.dir, "pairs")
        t0 = time.perf_counter()
        self.start_session()
        t = time.perf_counter()
        incremental_near_dup_batch(
            self.spark.read.parquet(os.path.join(self.input, "history")),
            0,
            self.index_dir,
            self.pairs_dir,
        )
        self.note("index build", t)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(self.spark) if self.args.trace else None
        gc0 = jvm_gc_s(self.spark)
        results = []
        t_meas = time.perf_counter()
        for k in range(1, self.n_batches + 1):
            self.attempted += 1
            t = time.perf_counter()
            try:
                wall, counts = self.ingest_batch(k, tracer)
            except Exception as exc:
                self.failed += 1
                self.check(False, f"micro-batch {k} raised {exc!r}"[:300])
                break
            self.note(f"micro-batch {k} ({wall:.2f} s)", t)
            results.append((wall, counts))
            missed = counts["reuploads"] - counts["found"]
            if not self.check(missed == 0, f"micro-batch {k}: {missed} re-uploads missed"):
                self.failed += 1
            if time.perf_counter() - t_meas >= self.args.seconds:
                break
        walls = [w for w, _ in results]
        if self.args.trace:
            self.layer["streaming.batch_s"] = _median(walls)
            for key in ("pairs_out", "index_files", "index_bytes"):
                self.layer[f"streaming.{key}"] = _median([c[key] for _, c in results])
            self.layer["jvm.gc_s"] = jvm_gc_s(self.spark) - gc0
            self.record_storage()
            self.traced_groups = [("streaming", f"batch{k}") for k in range(1, len(results) + 1)]
            return {}
        found = sum(c["found"] for _, c in results)
        return {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (_median(walls), "s"),
            "images_per_sec": (_median([c["rows"] / w for w, c in results]), "img/s"),
            "recall": (found / max(1, sum(c["reuploads"] for _, c in results)), "ratio"),
        }

    # -------------------------------------------------------------- main
    def run(self) -> dict:
        from probes import RssSampler
        from workloads import SIZES, ensure_inputs

        self.n_batches = SIZES.batches
        t = time.perf_counter()
        self.input, gen_s = ensure_inputs(ROOT, self.args.workload, self.args.seed, CORES)
        self.layer["fixtures.generate_s"] = gen_s
        self.note("inputs", t)
        with RssSampler() as rss:
            try:
                metrics = self.ingest() if self.args.workload == "ingest" else self.batch()
            finally:
                if hasattr(self, "spark"):
                    t = time.perf_counter()
                    self.spark.stop()
                    self.note("session stop", t)
        self.layer["process.peak_rss_mb"] = rss.peak_mb
        if self.args.trace:
            metrics = self.layer_metrics()
        return {
            "correct": not self.problems and self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self) -> dict:
        """Every per-layer metric BENCHMARK.json declares; layers the
        workload does not run read 0."""
        from probes import event_log_by_group

        groups = event_log_by_group(os.path.join(self.dir, "events"))
        per_layer: dict[str, list[dict]] = {}
        for layer, tag in self.traced_groups:
            per_layer.setdefault(layer, []).append(groups.get(f"{layer}#{tag}", {}))
        for layer, rows in per_layer.items():
            for key in ("jobs", "shuffle_write_mb", "executor_cpu_s", "executor_run_s"):
                self.layer[f"{layer}.{key}"] = _median([r.get(key, 0) for r in rows])
            self.layer[f"{layer}.wait_s"] = _median(
                [r.get("executor_run_s", 0) - r.get("executor_cpu_s", 0) for r in rows]
            )
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        return {m["name"]: (float(self.layer.get(m["name"], 0.0)), m["unit"]) for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("viral", "ingest", "planted"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import yadf_spark
    except ImportError as exc:
        print(f"perfbench: no yadf_spark package in {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(yadf_spark.__file__)) != os.path.join(ROOT, "yadf_spark"):
        print(f"perfbench: yadf_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.run()
    finally:
        from probes import descendants, reap, stop_jvm

        t = time.perf_counter()
        started = descendants(os.getpid())
        try:
            stop_jvm()
        finally:
            reap(started + descendants(os.getpid()))
            shutil.rmtree(run.dir, ignore_errors=True)
            run.note("processes stopped", t)
    if run.problems:
        print("perfbench: " + "; ".join(run.problems), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
