"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment story:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are how a fixed plan survives a
  100x scale-up.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces down. On a real cluster set it ~2-3x total cores.
- AQE may also coalesce the final stage of a CACHED plan
  (``canChangeCachedPlanOutputPartitioning``; Spark's default is off,
  which keeps every persisted frame at the full shuffle width). Batch-
  sized curation frames — the ``curate`` survivors and shingles, the
  ``CurationState.write`` shingles, the ``connected_components`` pair
  probe — then shrink to a partition or two, so their consumers run a
  task or two per stage and a state generation lands a file or two per
  table instead of one per shuffle partition. A coalesced hash
  partitioning still satisfies the doc-keyed clustered distribution, so
  no exchange is added. At corpus scale AQE only merges partitions
  smaller than its advisory size (64 MB), so a large cache keeps its
  width.
- The generated-code cache holds 1000 classes, not Spark's 100, which
  is smaller than one pass's working set. Counted with Spark's
  ``CodegenMetrics`` on the benchmark: ``migrate_query``'s warm-up
  compiles 113 classes, and at 100 entries each later pass recompiles
  86 of them (0 at 4000 entries); each later ``cdc_curate`` pass
  recompiles 289 at 100 entries and 12 at 4000. The cache is per JVM
  and static: it is fixed when the session starts.
- UTC session timezone so timestamp semantics are stable across the
  cluster and match the DuckDB oracle.
- Arrow enabled for every pandas-UDF boundary.

The master is ``master`` when given; otherwise a process launched by
``spark-submit`` keeps the submitted ``--master`` and a bare interpreter
gets ``local[SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "clickhouse_mysql_data_reader_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 128 MB split target: at 100 TB that is ~800k input splits, the
        # sweet spot for 1000 executors; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # iterative operators (operators/graph.py) truncate lineage with
        # reliable checkpoints; let the ContextCleaner delete checkpoint
        # files once their RDDs are garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if master:
        builder = builder.master(master)
    elif not (SparkSession.getActiveSession() or os.environ.get("PYSPARK_GATEWAY_PORT")):
        # spark-submit hands its JVM (and its --master) to the Python
        # process through PYSPARK_GATEWAY_PORT; only a bare interpreter
        # gets the local default
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
