"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the same configs apply unchanged on a
multi-executor cluster via ``spark-submit --py-files`` (north rule).
AQE handles runtime re-planning and skew joins; Arrow batches are kept
small because ``html`` rows can be up to 10 MB (SURVEY.md §7 risk 3).

On ``local[...]`` masters the Python workers are started through
``worker_daemon`` (``spark.python.daemon.module``): the stock daemon's
workers re-read ``pyspark.zip``'s directory at the start of every task,
a fixed ~0.25 CPU-s per task whatever its input. The daemon is launched
before any ``--py-files`` archive reaches the worker, so
``spark.executorEnv.PYTHONPATH`` is pointed at the directory or zip
this package was imported from (merged with a caller's value). Other
masters keep the stock daemon: their executors need not see the
driver's paths.

Spark's generated-code class cache (``spark.sql.codegen.cache.maxEntries``,
JVM-global, default 100) is sized to the engine's working set of
generated classes, so a plan shape compiles once per JVM instead of
once per operation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def get_spark(app_name: str = "resume-parser-service-spark",
              cores: int | str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(str(cores)) * 2)
        except ValueError:
            shuffle_partitions = 64
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9) — skips the per-side
        # sorts (measured: join_revenue_by_nation SortMergeJoin ->
        # ShuffledHashJoin, ~15% faster at sf1.0; raising the
        # broadcast threshold instead was tried and REGRESSED 3x —
        # collecting a 1.5M-row orders side costs more than its
        # shuffle, so autoBroadcastJoinThreshold stays at the default)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # JVM-global LRU of compiled generated classes. At the default
        # 100 every operation evicts the classes the next one asks for
        # again, so Janino and the JIT redo them each time. Measured
        # distinct classes (CodegenMetrics): one ingest batch ~100, one
        # dedup-suite pass ~120, the 57-query catalog 497 at sf0.001
        # and at sf0.01. 1000 holds the largest with 2x margin.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html rows are up to 10 MB; keep Arrow batches small (spill risk)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # scan splits scale with cores (3 waves) so one straggler task
        # cannot idle the rest of the executor at any parallelism level
        .config("spark.sql.files.minPartitionNum",
                str(max(24, shuffle_partitions * 3 // 2)))
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        user_path = extra_conf.pop(_WORKER_PATH, "")
        builder = (
            builder.config("spark.python.daemon.module",
                           "resume_parser_service_spark.worker_daemon")
            .config(_WORKER_PATH,
                    os.pathsep.join(p for p in (root, user_path) if p)))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
