"""SparkSession factory with scale-aware defaults.

Design notes (100 TB target, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned partition
  counts when the real cluster sees skewed TPC-DS-like keys.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster AQE's coalescing makes a high initial value cheap, so we
  leave it overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS.
- Arrow enabled for the pandas-UDF paths (dedup, multimodal, scoring).
- Broadcast threshold raised to 32 MB — dimension tables in the
  corpus (date_dim, item, store, ...) are all far below it, so every
  stream-static star join plan broadcasts (SURVEY.md §2.2).
"""

from __future__ import annotations

import multiprocessing
import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "default_parallelism"]

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return multiprocessing.cpu_count()


def get_session(app_name: str = "emr-datasources-spark", master: str | None = None) -> SparkSession:
    """Return a tuned SparkSession (idempotent per-JVM)."""
    cores = default_parallelism()
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * cores)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A long-lived session that plans hundreds of distinct queries
        # (the bench sweep, a notebook day, a Thrift server) generates
        # thousands of codegen classes: the JVM's default 240 MB
        # reserved code cache fills, the JIT stops compiling, and every
        # subsequent query runs interpreted — observed as a 4x
        # whole-sweep slowdown. Same story for unreferenced
        # localCheckpoint/broadcast blocks, which are only reclaimed
        # when a JVM GC runs (ContextCleaner's default periodic GC is
        # 30 min — longer than the whole sweep).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:MaxMetaspaceSize=2g",
        )
        .config("spark.cleaner.periodicGC.interval", "1min")
        # the SQL/app status stores retain full plan graphs and task
        # infos for up to 1000 executions even with the UI off —
        # hundreds of distinct queries per session turn that into
        # listener-bus lag that delays every subsequent job submission
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default for TIMESTAMP_LTZ) carries no
        # parquet min/max statistics, so row-group/file skipping on
        # event-time predicates silently dies — at 100 TB that is the
        # difference between pruning a day and scanning a decade.
        # INT64 micros is the modern interoperable encoding.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Python workers fork from daemon.py, which stops every task
        # from re-reading pyspark.zip's directory (~300 ms a task on
        # Python < 3.13). The daemon starts as `python -m` in the JVM's
        # working directory; the package's parent dir on the workers'
        # PYTHONPATH keeps it importable from any directory.
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
