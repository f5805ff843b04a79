"""SparkSession factory with scale-aware defaults.

Local test mode is ``local[$SPARK_GRAFT_CPUS]`` (single JVM); on a real
cluster the same confs apply per-executor. Everything here is standard
public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Generated classes the per-JVM codegen cache holds (Spark's default:
# 100). Sized to the whole registry; see get_spark.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "mapreducenonequijoin_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    - AQE on: runtime shuffle coalescing, join-strategy switching and
      skew-join splitting (the planner-level analogue of [OR11]'s
      load-balancing goal).
    - UTC session timezone: required for DuckDB-oracle timestamp parity
      (SURVEY.md §5.4).
    - Arrow on: every pandas-UDF boundary is Arrow-batched.
    - shuffle.partitions ~ cores in local mode; a cluster deployment
      would size this to ~2-3x total executor cores or rely on AQE
      coalescing from a higher initial value.
    - Codegen cache of ``CODEGEN_CACHE_ENTRIES`` classes: a warm query
      reuses its generated classes, and their JIT-compiled code, only
      while they are still cached. Measured working sets: ~215 classes
      for the 12 perfbench keys at sf0.1, ~3,650 once one pass over
      every registered query at sf0.001 is added. Spark's default of
      100 evicts least-recently-used first, so a query mix that cycles
      misses on every lookup and recompiles each class (~130 Janino
      compiles per warm ``llm_datapipe`` pass and ~50 per
      ``nonequi_join`` pass at sf0.1; 0 with this cache). Holding the
      whole registry did not grow Metaspace. The conf is static: it
      only takes effect on the builder, before the session (and its
      JVM) starts.
    - Codegen stage ids out of class names: AQE numbers whole-stage
      pipelines in stage-completion order, which varies run to run, and
      the id in the class name made the same pipeline new source code
      (a cache miss) whenever the order changed.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
