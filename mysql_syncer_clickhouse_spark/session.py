"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench harness (local[N] single JVM);
on a real cluster only the master/memory settings change -- the
SQL-level settings (AQE, shuffle partitions sized to cores, UTC
session timezone for oracle parity) hold at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package, for the Python workers' sys.path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the module Spark runs as the Python worker daemon
WORKER_DAEMON = "mysql_syncer_clickhouse_spark.worker_daemon"


def get_spark(app_name: str = "mysql_syncer_clickhouse_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """`shuffle_partitions` defaults to `cpus` -- the cluster-correct
    rule of thumb. Harnesses running SMALL fixtures should pass fewer
    (bench.py sizes it to the fixture): SCALE.md §5 measured that at
    sf0.1 every shuffle carries a few MB, so 32 near-empty partitions
    across ~40 stages is pure task-dispatch floor, not data work --
    `local[8]` beat `local[32]` on the merged entries. Plans are
    partition-count independent; only scheduling overhead changes.

    `spark.sql.codegen.cache.maxEntries` is 2,000 (Spark's default is
    100). It is a static conf, read once per JVM. The cache maps
    generated source to its Janino-compiled class and evicts the least
    recently used entry. Re-planning a query yields the same source,
    so a cache that holds the working set compiles each class once;
    one smaller than a working set visited in the same order every
    time hits 0%, each class evicted just before it is asked for
    again. Working sets measured at sf0.001 size (distinct classes,
    Spark's CodegenMetrics): about 209 per sweep of the
    perfbench analytics mix (cdc_op_counters, dedup_minhash_lsh,
    cdc_final_state), 94 per perfbench sync_delta_read run, 1,372 per
    pass over the whole registry. At 100 entries an analytics run made
    937-946 Janino compiles and a second registry pass 1,791-1,797; at
    2,000, 224-230 and 114-148, and job CPU per analytics sweep fell
    17%. 2,000 is the round figure above the largest of these sets
    (the registry's), with room for plans that differ by a literal. It
    is not larger because no measured set needs more and every cached
    class stays loaded: after two registry passes and a full GC,
    Metaspace held 195 MB against 184 MB at 100 entries. A smaller
    cache that still holds the registry's set saves none of that (at
    1,500 entries: the same compiles, the same 195 MB), since the cost
    is the classes kept, not the cache's size.

    `spark.executorEnv.PYTHONPATH` is the directory that holds this
    package. Python UDFs pickle some package functions by reference,
    so a worker must be able to import the package; Spark joins this
    entry with the PYTHONPATH of the process that built the session,
    so a session built from any directory works.

    `spark.python.daemon.module` is this package's `worker_daemon`, a
    static conf naming the module Spark runs as the Python worker
    daemon. PySpark's worker calls `importlib.invalidate_caches()` at
    the start of every task, and on CPython 3.11 each zip importer
    then re-parses its archive's whole central directory: 16
    importers for pyspark.zip's package directories (1,328 entries)
    plus py4j's zip, about 0.19 CPU-s per task before any user code.
    The daemon re-reads an archive only when its inode, size or mtime
    changed, then runs PySpark's own daemon, whose forked workers
    inherit the guard. With an identity UDF over 1,000 rows in 2
    partitions on local[2] (4 vCPUs), worker CPU per job went 0.39 ->
    0.064 s with `mapInPandas`, 0.40 -> 0.063 s with `mapInArrow` and
    0.27 -> 0.12 s with `applyInPandas` over 100 groups. On a CPython
    whose zip invalidation is already lazy the guard only adds one
    `stat` per importer per task."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", "0") or 0) or cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
    apply_log_level(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has made so far (Spark's
    CodegenMetrics; a codegen cache hit does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def apply_log_level(spark: SparkSession) -> None:
    """Honor the CLI's --log-level (the reference's -log_level flag)
    via SPARK_GRAFT_LOG_LEVEL; default leaves Spark's own level."""
    level = os.environ.get("SPARK_GRAFT_LOG_LEVEL")
    if level:
        spark.sparkContext.setLogLevel(level)
