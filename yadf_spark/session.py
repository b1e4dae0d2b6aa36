"""SparkSession factory tuned for the dedup workload.

Local-mode defaults mirror what we'd set on a real cluster:

* ``spark.sql.shuffle.partitions`` sized to cores (not the 200 default) —
  on a 1000-executor cluster this becomes ~2-3x total cores, or is left
  to AQE coalescing;
* AQE on (runtime partition coalescing + skew-join splitting);
* Arrow on (every pandas UDF crosses the JVM/Python boundary in
  columnar batches);
* UTC session timezone so results compare bit-for-bit against the
  DuckDB oracle;
* scan I/O sizing (``files.maxPartitionBytes`` / ``openCostInBytes``) —
  the Spark-native replacement for the reference's hand-built I/O
  machinery (SURVEY §2.5 P3-P5): its io-thread pool becomes the task
  scheduler over scan splits, its sequential prefetcher becomes the
  columnar reader's buffered split reads (sized by ``maxPartitionBytes``
  so a split fits executor memory at any corpus size), and its
  platform-specific read layer is the Hadoop FS abstraction. The
  reference's own sweep found prefetch constants worth <= ~1% —
  evidence that declarative I/O with sane split sizing is the right
  altitude, not a compromise (reference: src/fs/prefetch.rs:24-30,
  src/fs/pool.rs:9-16).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: repo root (parent of the yadf_spark package) — exported to executor
#: Python workers so pandas UDFs can unpickle module references no matter
#: where the driver script lives. On a real cluster the equivalent is
#: ``spark-submit --py-files yadf_spark.zip``.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> None:
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _PKG_ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [_PKG_ROOT, *parts] if p)


def iceberg_jar_present() -> bool:
    """True when an Iceberg Spark runtime jar is on the classpath Spark
    will boot with (pyspark's bundled jars dir, or jars named via
    SPARK_GRAFT_ICEBERG_JAR). Checked BEFORE session build because the
    catalog plugin config must be set at startup; absent in this
    container, present on a provisioned cluster (VERDICT r2 item 6)."""
    import glob

    extra = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if extra and os.path.exists(extra):
        return True
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jars_dir, "iceberg-spark-runtime*.jar")))
    except Exception:
        return False


#: catalog name the Iceberg seam registers when the runtime jar exists
ICEBERG_CATALOG = "yadf"


def get_spark(
    app_name: str = "yadf-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with dedup-workload defaults.

    ``cores`` controls local-mode parallelism (``local[cores]``); the
    bench harness uses this to measure scaling efficiency between two
    parallelism levels on identical input.
    """
    cores = cores or DEFAULT_CPUS
    _export_pythonpath()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # P3-P5 stand-ins (see module docstring): 128 MiB scan splits
        # keep a whole-file-row batch well inside executor memory even
        # with binary payloads; the open-cost constant stops the packer
        # from fusing thousands of small files into one starving task
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", _PKG_ROOT))
    )
    if iceberg_jar_present():
        # Hadoop-type catalog under the local warehouse — the smallest
        # config that makes writeTo(...).createOrReplace() live; a real
        # deployment overrides these with its Hive/REST catalog.
        wh = os.environ.get(
            "SPARK_GRAFT_ICEBERG_WAREHOUSE", os.path.join(_PKG_ROOT, "spark-warehouse")
        )
        jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
        if jar:
            builder = builder.config("spark.jars", jar)
        builder = (
            builder.config(
                f"spark.sql.catalog.{ICEBERG_CATALOG}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
            .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

