"""Stage checkpoint / resume manager.

The north_rule requires the job to "resume from per-partition
checkpoints with lineage + per-stage metrics". Spark's parquet writer is
already per-partition atomic (task outputs commit individually, the job
commit publishes a ``_SUCCESS`` marker), so a stage checkpoint is a
parquet dataset plus a manifest recording the stage's config
fingerprint, row count, and wall time. On restart:

* manifest present + fingerprint matches  -> read the parquet, skip the
  compute (lineage is truncated to a fresh scan — the iterative-job
  equivalent of ``localCheckpoint``);
* fingerprint differs (config changed)    -> recompute and overwrite;
* no manifest (crashed mid-write)         -> recompute; the partial
  directory is overwritten atomically by mode("overwrite").
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def fingerprint(obj) -> str:
    """Stable fingerprint of a config-ish object (dataclass/dict/str)."""
    try:
        import dataclasses

        if dataclasses.is_dataclass(obj) and not isinstance(obj, type):
            obj = dataclasses.asdict(obj)
    except Exception:
        pass
    blob = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


@dataclass
class StageRun:
    name: str
    rows: int
    seconds: float
    resumed: bool


@dataclass
class Checkpointer:
    """``stage(name, config, fn)`` runs ``fn`` or resumes its parquet
    checkpoint; ``workdir=None`` disables checkpointing entirely (pure
    pass-through) so pipelines run identically with or without it.

    ``eager=False`` (only meaningful with ``workdir=None``) defers all
    materialization to the caller's final action: stages are
    localCheckpoint(eager=False)-ed so the whole pipeline runs as one
    fused job, and per-stage row counts come from counting the
    checkpointed RDDs at ``metrics()`` time. Each eager count job costs
    a driver-side scheduling round trip, and with five stages the round
    trips were a measurable slice of the whole pipeline at high core
    counts — serial time no amount of executors removes. Eager remains
    the default because it gives true per-stage wall times; both modes
    truncate lineage at every stage boundary, which bounds logical-plan
    growth (self-joining stages would otherwise double their upstream
    subtree per use until plan stringification alone OOMs the driver)."""

    spark: SparkSession
    workdir: str | None = None
    eager: bool = True
    runs: list[StageRun] = field(default_factory=list)
    _lazy_stages: list = field(default_factory=list)
    #: running lineage fingerprint: each stage's effective fingerprint
    #: folds in every PRIOR stage's, so changing an upstream stage's
    #: config invalidates everything after it. Without this, changing
    #: e.g. the LSH config recomputed candidate_buckets but let
    #: candidate_pairs (fingerprinted only on its own {salt, cap})
    #: resume a STALE checkpoint built from the old buckets. Chaining
    #: by call order over-invalidates parallel branches (a verify-only
    #: change also recomputes nothing-upstream stages that FOLLOW it in
    #: call order) — the safe direction: a resume can be wasteful,
    #: never wrong.
    _chain_fp: str = ""

    def stage(self, name: str, config, fn: Callable[[], DataFrame]) -> DataFrame:
        t0 = time.monotonic()
        if self.workdir is None and not self.eager:
            # lazy localCheckpoint: lineage truncates in the LOGICAL plan
            # immediately (bounding cross-stage plan growth, see the
            # eager branch) while materialization still waits for the
            # caller's single fused action. Row counts come from
            # counting the checkpointed RDD at metrics() time — nearly
            # free once materialized, and unlike the previous
            # Observation-node scheme it cannot deadlock when metrics()
            # is called before the final action (a count simply
            # materializes the checkpoint).
            df = fn().localCheckpoint(eager=False)
            self._lazy_stages.append((name, df))
            return df
        if self.workdir is None:
            # no durable checkpoint requested: localCheckpoint (eager) —
            # materializes like persist+count, AND truncates lineage.
            # Truncation matters beyond resume semantics: each stage's
            # logical plan otherwise embeds every upstream stage's plan,
            # and self-joins inside stages (the skew-safe groupBy+join
            # count/min patterns) double their subtree per use — across
            # five stages the combined plan grows multiplicatively until
            # plan stringification alone exhausts the driver heap. The
            # eager count on the checkpointed RDD is then free and yields
            # the per-stage metrics (reference: src/lib.rs:120-139).
            df = fn().localCheckpoint(eager=True)
            rows = df.count()
            self.runs.append(StageRun(name, rows, time.monotonic() - t0, False))
            return df

        stage_dir = Path(self.workdir) / name
        data_dir = stage_dir / "data"
        manifest_path = stage_dir / "manifest.json"
        fp = fingerprint({"config": config, "upstream": self._chain_fp})
        self._chain_fp = fp

        if manifest_path.exists():
            manifest = json.loads(manifest_path.read_text())
            if manifest.get("fingerprint") == fp:
                df = self.spark.read.parquet(str(data_dir))
                self.runs.append(
                    StageRun(name, manifest.get("rows", -1), time.monotonic() - t0, True)
                )
                return df

        df = fn()
        df.write.mode("overwrite").parquet(str(data_dir))
        out = self.spark.read.parquet(str(data_dir))
        rows = out.count()
        stage_dir.mkdir(parents=True, exist_ok=True)
        manifest_path.write_text(
            json.dumps(
                {
                    "stage": name,
                    "fingerprint": fp,
                    "rows": rows,
                    "completed_at": time.time(),
                },
                indent=2,
            )
        )
        self.runs.append(StageRun(name, rows, time.monotonic() - t0, False))
        return out

    def metrics(self) -> list[dict]:
        """Per-stage metrics. In lazy mode, rows come from counting each
        stage's checkpointed RDD — prefer calling after the final action
        (the counts are then local scans of materialized partitions);
        calling earlier just materializes the checkpoints. Wall seconds
        are not attributable per stage in lazy mode (one fused job) and
        are reported as -1."""
        out = [
            {"stage": r.name, "rows": r.rows, "seconds": round(r.seconds, 3), "resumed": r.resumed}
            for r in self.runs
        ]
        for name, df in self._lazy_stages:
            out.append({"stage": name, "rows": df.count(), "seconds": -1.0, "resumed": False})
        return out
