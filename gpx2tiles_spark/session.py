"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "gpx2tiles_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode tuned session.

    - AQE on (runtime coalesce + skew split),
    - shuffle partitions ~ cores (not the 200 default),
    - Arrow enabled for all pandas-UDF exchange,
    - session timezone pinned UTC (reference K6 quirk documented in
      SURVEY.md §2.8; oracle comparisons need UTC),
    - no Python call-site capture per Column function, and generated
      classes reused across plans (plan building and codegen of a small
      store batch otherwise cost more than running it).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            cores = int(master[6:-1])
        shuffle_partitions = max(8, cores)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # PySpark otherwise records the Python call site of every Column
        # function in the JVM (about five py4j round trips per call, for
        # error messages): building the event plan took ~12k round trips
        # and several CPU-seconds per store batch, more than running it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # generated classes named without the codegen stage id: the same
        # operator subtree compiles once, wherever it sits in a plan
        .config("spark.sql.codegen.useIdInClassName", "false")
        # list up to 1024 paths (an explicit GPX file list, a -C tree's
        # zoom or column directories) on the driver: past Spark's default
        # of 32 every read starts a listing job, one task per path
        # (measured on a 100-file read: 2.88 → 0.94 CPU-s, 2 → 1 jobs)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
    )
    # OPT-IN shuffle spill on tmpfs (SPARK_GRAFT_TMPFS=1): the sandbox's
    # single virtual disk serializes concurrent shuffle writers (a real
    # cluster gives each executor local NVMe); measured −22% on the
    # event-gen phase with 4 executor JVMs.  Opt-in rather than default:
    # spill consuming RAM can OOM a memory-tight host, so the benchmarks
    # enable it explicitly and library consumers keep disk spill.
    if (os.environ.get("SPARK_GRAFT_TMPFS") and os.path.isdir("/dev/shm")
            and "SPARK_LOCAL_DIRS" not in os.environ):
        b = b.config("spark.local.dir", "/dev/shm/gpx2tiles_spark_tmp")
    return b.getOrCreate()
