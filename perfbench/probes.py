"""Measurement helpers that observe the program from outside: a /proc
memory sampler, layer spans tied to Spark job groups, event-log stage
attribution, and JVM storage / GC counters read through py4j; and the
process-tree clean-up that ends a run."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _start_time(pid: int) -> int | None:
    """Start time of a live process (``None`` if gone or a zombie); with the
    pid it names one process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, start time) of every live descendant of ``root``."""
    out = []
    for pid in _tree(root)[1:]:
        start = _start_time(pid)
        if start is not None:
            out.append((pid, start))
    return out


def reap(procs: list[tuple[int, int]], grace: float = 10.0) -> None:
    """Terminate the given processes and wait until every one has ended:
    SIGTERM, then SIGKILL after ``grace`` seconds. Children of this process
    are also waited for, so none is left a zombie."""
    import signal

    def alive() -> list[tuple[int, int]]:
        for pid, _ in procs:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        return [(pid, start) for pid, start in procs if _start_time(pid) == start]

    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        left = alive()
        if not left:
            return
        for pid, _ in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the summed resident set of this process
    and its descendants (the Spark JVM and its Python workers); ``peak_mb``
    is the largest sum seen. Pages shared by forked workers count once
    per process, so the figure is an upper bound."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Layer spans. Each span runs its Spark jobs under the job group
    ``<name>#<pass>``, so event-log stages can be attributed to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str):
        group = f"{name}#{parent}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"name": name, "parent": parent, "start": t0, "end": t1})

    def durations(self, parent: str) -> dict[str, float]:
        return {s["name"]: s["end"] - s["start"] for s in self.spans if s["parent"] == parent}

    def coverage(self, parent: str, wall: float) -> float:
        """Share of the pass wall covered by its layer spans."""
        return sum(self.durations(parent).values()) / wall


def event_log_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Parse the Spark event log: per job group, the number of jobs and
    the summed shuffle-write bytes, executor run time and executor CPU
    time of the stages those jobs ran. A stage is credited to the group
    of the first job that lists it (AQE re-submits query stages as new
    jobs; a stage completes once)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "shuffle_write_mb": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0}
    )
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(event_dir) for n in names)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    g = out[group]
                    g["shuffle_write_mb"] += (
                        int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0) / 2**20
                    )
                    g["executor_run_s"] += int(acc.get("internal.metrics.executorRunTime", 0) or 0) / 1e3
                    g["executor_cpu_s"] += int(acc.get("internal.metrics.executorCpuTime", 0) or 0) / 1e9
    return dict(out)


def storage(spark) -> tuple[float, int]:
    """(MB held by persisted / checkpointed RDD blocks, number of such RDDs)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return mb, len(infos)


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of the driver JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def stop_jvm() -> None:
    """End the py4j gateway JVM that outlives ``SparkSession.stop()``:
    close its standard input (it exits on EOF) and wait for it."""
    from subprocess import TimeoutExpired

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except TimeoutExpired:
                proc.kill()
                proc.wait()


def release(spark) -> None:
    """Run isolation between timed operations: uncache, then collect
    garbage on both sides so the ContextCleaner frees the blocks of
    checkpointed frames the Python side no longer references."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
