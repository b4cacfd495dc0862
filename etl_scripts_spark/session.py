"""SparkSession factory.

Local test mode runs one JVM with N threads; the same settings are what we
would deploy on a 1000-executor cluster — AQE on (runtime re-plan, skew-join
handling, partition coalescing), broadcast threshold generous because every
dimension table in this engine (region/nation/customer-slice, vocabularies,
whitelist panels) is small, session TZ pinned UTC so results compare bit-
identically against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "etl_scripts_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata's events.ts is parquet timestamp[us] with no
        # timezone; Spark 4 would infer TIMESTAMP_NTZ, which rejects
        # withWatermark and long casts.  Session TZ is pinned UTC, so reading
        # it as plain TIMESTAMP is bit-identical to DuckDB's reading.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Compiled codegen classes live in one JVM-wide LRU keyed on their
        # generated source.  Spark's default of 100 entries is below this
        # engine's working sets (distinct classes per pass at sf0.01: the
        # perfbench etl mix 181, the report mix 85, all 232 registered
        # queries 2,288-2,316), and an evicted class is compiled (Janino)
        # and JIT-warmed again when its query next runs.  4096 holds the
        # whole registry: at that scale the full cache costs ~66 MB of heap
        # and ~40 MB of non-heap (metaspace + code cache).  It holds code,
        # never data.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
