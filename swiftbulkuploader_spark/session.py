"""SparkSession factory tuned for both local testing and cluster scale.

The reference hand-rolls its own parallelism (N forked OS processes over a
shared Manager list, bulkupload.py:407-440); here the Spark scheduler owns
parallelism, and this module only encodes the *configuration* that makes the
declarative plans behave at 100 TB: AQE (runtime coalesce + skew-join),
broadcast thresholds, and Arrow for the Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(mem_total_bytes: int) -> str:
    """Default driver heap: half the host's memory in whole GiB, at least
    1g and at most 24g. The JVM shares the host with its Python workers and
    the OS, so a heap the host cannot back gets the JVM OOM-killed before
    Spark would evict a cached block."""
    return f"{max(1, min(24, mem_total_bytes // 2 // 2**30))}g"


# Tuned for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf. Shuffle partitions are deliberately set
# low locally and expected to be sized ~2-3x total cores at scale (AQE
# coalesces the excess).
_LOCAL_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # 8000 = HotSpot's HugeMethodLimit: the JVM NEVER JIT-compiles a
    # method above 8000 bytecodes, so a whole-stage-codegen function past
    # it executes as INTERPRETED BYTECODE — measured ~4.5x slower than
    # Spark's own interpreted expression path on the 64-term unrolled
    # kernel (r13-opt, x2_mmd_drift diagnosis; no janino warning fires,
    # the CLAUDE.md rule-9 silent-fallback class one level down). With
    # the limit at HotSpot's real boundary Spark falls back to
    # per-operator execution exactly when compiled code stops being
    # compiled. Scale-independent (a JVM property, not a data-size tune);
    # Spark's default 65535 only guards janino's hard 64 KB failure.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # Driver heap (`driver_memory`): half the host's physical memory
    # (sysconf's pages x page size = MemTotal on Linux), capped at 24g. The
    # cap (round 12): at 8g the ~200-query bench session's persisted/
    # checkpointed substrate blocks overflowed the unified storage pool
    # and evicted each other — a measured 251 s -> 221 s total-bench
    # recovery on a 128 GiB box came from the heap bump ALONE. A fixed
    # 24g on a 15.7 GiB host got the JVM OOM-killed instead. On a real
    # cluster executor memory is sized per-node by spark-submit.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    or driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
    "spark.sql.warehouse.dir": os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
}


def get_spark(app_name: str = "swiftbulkuploader_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``)
    so tests, bench.py and the driver harness all agree.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_LOCAL_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
