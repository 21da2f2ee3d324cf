"""SparkSession factory tuned for this engine.

Replaces AMiner's process bootstrap (aminer.py main / AnalysisChild fork,
reference: source/root/usr/lib/logdata-anomaly-miner/aminer/AnalysisChild.py)
with a SparkSession: AQE on, Arrow on, UTC session time zone so epoch
extraction is deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark keeps the classes it compiles for generated code in an LRU cache of
# ``spark.sql.codegen.cache.maxEntries`` entries (default 100). Counted at
# local[4] (CodegenMetrics compilations): one run_suite call generates 111
# distinct classes, and a pass over the 50 registered queries about 1,100
# more. At the default the cache thrashed: each warm suite call recompiled
# 61-79 classes and each warm query pass about 1,415, all re-JITted too.
# 4096 holds both working sets about three times over, so stale plan
# variants are evicted before live classes. Static conf: it only applies
# to a session this function creates (docs/SCALE.md "Session defaults").
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "logdata-anomaly-miner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves tests, bench at two parallelism levels, and a real
    cluster via spark-submit (where ``master`` is provided by the submitter).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # In local mode, match shuffle width to cores; on a cluster this is
        # overridden by spark-submit conf (AQE coalesces the rest).
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]").replace("*", str(cpus)))
        except (IndexError, ValueError):
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseG1GC"),
        )
    )
    # shuffle/spill to tmpfs when available: local-mode shuffles are
    # disk-bound on overlay filesystems; on a real cluster this is
    # irrelevant (executors use their own local dirs)
    if os.path.isdir("/dev/shm"):
        builder = builder.config(
            "spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
