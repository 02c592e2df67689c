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
- Generated-class cache sized to the working set
  (``CODEGEN_CACHE_ENTRIES``). Spark compiles each whole-stage codegen
  class with Janino and keeps it in an LRU cache of
  ``spark.sql.codegen.cache.maxEntries`` classes (default 100). A
  session that replays more shapes than that misses on every class,
  every time. One perfbench catalog_mix pass (sf0.02, ``local[4]``)
  needs 192 classes: 141 for the curate chain and 51 for its four
  catalog entries. With the default the session compiled 191 classes
  on every pass; with 2,000 the passes after the first compiled 0-4
  (an AQE re-optimization can pick a plan it has not seen before).
  A bench.py sweep (221 entries at sf0.1, same host) needs 2,758
  distinct classes. With 2,000 it compiled 2,774 (4,125 with the
  default) and ended at 210 MB of metaspace against 194 MB, about
  8 KB per class kept. JVM GC time over two sweeps each was 9.2 and
  11.1 s against 7.7 and 10.6 s, less than either side's own
  sweep-to-sweep spread. 2,000 holds ten times a catalog_mix pass for
  about 16 MB.
- No Python call-site capture per Column operator
  (``spark.python.sql.dataFrameDebugging.enabled=false``). pyspark 4
  records the Python call site of every Column operator and sends it
  to the JVM. For the Columns this package builds that site is a line
  inside the package, not the caller's code, and each capture walks
  the Python stack and makes extra Py4J calls: building a chain of
  ``+``/``lit``/``*`` operators took 0.84-1.02 ms and 10.5 Py4J calls
  per operator with capture, 0.18-0.36 ms and 1.7-2.0 calls without.
  Spark's SQL query context in error messages stays. It is Spark's
  own setting, so a caller can turn it back on with
  ``spark.conf.set`` before the process builds its first Column
  (pyspark reads it once per Python process).
"""

from __future__ import annotations

import logging
import multiprocessing
import os
import sys

import pyspark
from pyspark.sql import SparkSession

__all__ = ["get_session", "default_parallelism"]

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_PACKAGE_PARENT = os.path.dirname(_PACKAGE_DIR)
_LAUNCHER = os.path.join(_PACKAGE_DIR, "launcher.sh")
_log = logging.getLogger(__name__)
# Janino-compiled classes the session keeps (module docstring)
CODEGEN_CACHE_ENTRIES = 2000


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
        # static: read once when the JVM's code generator starts
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers unpickle package functions: keep the package
        # importable from any working directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    _use_launcher(spark)
    return spark


def _use_launcher(spark: SparkSession) -> None:
    """Start every Python process Spark spawns through ``launcher.sh``.

    Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on each
    Python process's path. The zip holds ~1,170 sources and no
    ``.pyc``, so each fresh process (a worker daemon, a data-source
    planner runner, every streaming query's source runner) compiles
    pyspark again: importing the source runner plus pyarrow took
    0.84-1.02 s from the zip against 0.21-0.25 s from site-packages
    (pyspark 4.1.2, Python 3.11, a 4-core x86-64 host).
    ``PYSPARK_PYTHON=python`` may also resolve through a version-manager
    shim that costs ~65 ms per process start. The launcher drops Spark's
    archives from ``PYTHONPATH`` and execs this driver's interpreter.

    PySpark reads ``sc.pythonExec`` when it wraps each UDF and each
    ``spark.dataSource.register`` call, so this must run before any is
    made. It applies only where the driver's pyspark is Spark's own
    version, outside a zip, on the same host (a local master);
    elsewhere Spark's default stays."""
    sc = spark.sparkContext
    local = sc.master == "local" or sc.master.startswith("local[")
    same = pyspark.__version__ == spark.version and os.path.isfile(pyspark.__file__)
    if not (local and same):
        _log.warning(
            "Python processes keep Spark's default executable %r: launcher.sh "
            "needs a local master (got %s) and the driver's pyspark outside a "
            "zip (got %s) at Spark's version %s (got %s)",
            sc.pythonExec, sc.master, pyspark.__file__, spark.version, pyspark.__version__,
        )
        return
    sc.environment["EMR_DATASOURCES_PYTHON"] = sys.executable
    sc.pythonExec = _LAUNCHER
