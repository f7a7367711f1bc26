"""SparkSession factory.

One place to encode the engine's execution posture (SURVEY.md §4.3):
AQE on (runtime shuffle coalescing + skew-join handling), UTC session
timezone (the reference used local wall-clock — cv-api.py:115 — which we
canonicalize to UTC), and Arrow for any pandas interchange.

Shuffle width is two settings, because two kinds of plan read it:

- Batch plans run under AQE, which starts every shuffle at
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` (32,
  sized for the local test harness) and coalesces small partitions
  down at run time — an upper bound, not a fixed fan-out.
- Plans AQE never sees — streaming state stores and the micro-batch
  plans a ``foreachBatch`` sink runs — use ``spark.sql.shuffle.partitions``
  as their FIXED width. Each partition there costs a state store
  instance and its commit files per micro-batch, and a file per
  batch write, whatever its row count, so it is the session's task
  slot count (``defaultParallelism``): one store per slot, all in one
  wave.

On a real cluster one ``spark.sql.shuffle.partitions`` sized from the
input serves both (``cluster_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "covid_19_fl_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    AQE reads ``coalescePartitions.initialPartitionNum`` (32) as the
    batch shuffle bound; ``spark.sql.shuffle.partitions``, the width of
    the non-adaptive streaming and micro-batch plans, is the session's
    task slot count (module docstring).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Upper bound on batch shuffle fan-out; AQE coalesces small partitions.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Managed tables (bucketing) land outside the repo tree.
        .config("spark.sql.warehouse.dir", "/tmp/covid_19_fl_spark-warehouse")
        # Python Data Source pushFilters (REST source F5 pushdown).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Long single-session sweeps (the full-registry bench, the
        # 10×/100× scale runs) accumulate shuffle files in
        # spark.local.dir until the JVM happens to GC the dereferenced
        # ShuffleDependencys — an 8,800s 100× sweep filled the disk and
        # killed dd_simhash_pairs with "No space left on device"
        # (round 9). Asking the ContextCleaner to force a GC every 5
        # minutes (default 30min) bounds the orphaned-shuffle window;
        # production clusters run external shuffle services with their
        # own TTLs, local mode needs the cleaner to do it.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # LTZ timestamps as INT64 micros, not legacy INT96: INT96
        # carries no parquet min/max statistics, which silently kills
        # footer-stat/clustered-file pruning on any timestamp column.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    # Fixed width of plans AQE does not run: one state store per task
    # slot. defaultParallelism is local[cpus]'s slot count as the JVM
    # resolves it (for "*", the processors it may use under any quota).
    slots = str(spark.sparkContext.defaultParallelism)
    spark = SparkSession.builder.config("spark.sql.shuffle.partitions", slots).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    executor_cores: int = 4,
    target_partition_mb: int = 128,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """The engine's execution posture at real scale — the config set a
    100 TB deployment submits with (spark-submit --conf / cluster
    template), derived from first principles rather than copied
    defaults. Returned as a dict so jobs can layer it onto any builder;
    local test sessions intentionally do NOT apply it.

    Sizing logic:
    - shuffle.partitions ≈ input / target partition size, so a full
      100 TB shuffle lands ~128 MB per task — big enough to amortize
      task overhead, small enough to never spill with 4-8 GB executors.
      AQE coalesces below this for smaller intermediate shuffles, and
      splits skewed partitions above it; the static number is only the
      pre-runtime upper bound.
    - maxPartitionBytes 256 MB: scan tasks two row-groups wide, halves
      the scheduling load of a million-file table vs the 128 MB default.
    - broadcast threshold 64 MB: every dimension in this engine
      (nation/region/counties/date spines/band buckets) is << 64 MB;
      fact tables are >> 1 GB, so the planner can never mis-broadcast
      a fact side.
    - Kryo + registrationRequired=false: shuffle/broadcast serialization
      of the engine's only custom payloads (arrays, structs) without a
      registration maintenance burden.
    - speculation on: at 4000 concurrent tasks a single slow node
      otherwise sets the stage's wall-clock (straggler tail).
    - dynamicAllocation bounded [executors/4, executors]: streaming and
      interactive phases release slots; shuffle tracking keeps map
      output alive without an external shuffle service.
    """
    total_cores = executors * executor_cores
    shuffle_parts = max(
        total_cores * 2,  # ≥2 waves even if the estimate is off
        int(input_tb * 1024 * 1024 / target_partition_mb),
    )
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.speculation": "true",
        "spark.speculation.multiplier": "3",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.minExecutors": str(executors // 4),
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": "8g",
        "spark.executor.memoryOverhead": "2g",
        "spark.sql.parquet.compression.codec": "zstd",
    }
