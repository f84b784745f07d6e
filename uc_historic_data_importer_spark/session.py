"""SparkSession factory.

UTC session timezone is mandatory: the reference parses/formats every
timestamp in UTC (`HBaseWriter.kt:598-600` pins two SimpleDateFormats with
UTC zone). AQE is on so skewed anti-join / window shuffles re-plan at
runtime; shuffle partitions default to a local-mode-friendly value but are
meant to be overridden on a real cluster (rule of thumb: ~2-3x total cores,
or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of Spark's compiled-class cache (spark.sql.codegen.cache.maxEntries,
# default 100). One pass over the 152 registered catalog queries at sf0.001
# compiles 1,652 distinct whole-stage and projection classes (the HDI job
# 57, the 10-query perfbench catalog_mix about 225). The queries repeat in
# a fixed order, so an LRU smaller than that working set evicts each class
# before its next use and every warm run recompiles all of them with Janino.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "uc-historic-data-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-oriented defaults.

    Every setting here is chosen for the 100 TB target, not the local test:
    - AQE + skew-join handling: runtime re-planning of the existence
      anti-join and latest-per-key window shuffles.
    - Arrow enabled: all Python-side work is Arrow-batched pandas UDFs.
    - 128 MB file partitions: parquet scan tasks sized for executor memory.
    - UTC: timestamp semantics parity with the reference.
    - Compiled-class cache sized to the whole catalog
      (CODEGEN_CACHE_ENTRIES): at Spark's default of 100 entries a warm
      catalog_mix iteration recompiled all ~225 of its classes, and a
      second pass over the catalog 2,116 (now 0 and 26), each a fresh
      class that starts over in the JVM interpreter. The conf is static
      (spark.conf.set raises CANNOT_MODIFY_STATIC_CONFIG), so it is set
      here and not in prepare_session: sessions built elsewhere, such as
      the correctness driver's, keep Spark's default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # collect_list/collect_set partial aggregation (shingle buckets,
        # minhash band buckets) falls back to sort-based aggregation after
        # only 128 in-memory groups by default — every dedup map task blows
        # past that and pays an external sort of serialized buffers (6-7x
        # slowdown measured at sf0.1). Per-task group counts are bounded by
        # shuffle-partition sizing and the df-cut bounds the list payloads,
        # so a 2M-group in-memory map is safe at the 100 TB target too.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2097152")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())


def prepare_session(spark: SparkSession) -> SparkSession:
    """Set the runtime confs the catalog relies on, ONCE, on any session
    — including externally-created ones (the correctness driver builds
    its own). Keeping these here means query/table functions are
    side-effect-free (round-1 advice: no spark.conf.set inside catalog
    code).

    - inferTimestampNTZ off: current testdata carries naive
      TIMESTAMP(MICROS) (isAdjustedToUTC=false). Spark 3.4+ would map
      those to TIMESTAMP_NTZ, which unix_millis/window/to_utc_timestamp
      reject; reading them as plain TIMESTAMP under a UTC session gives
      values bit-identical to the naive DuckDB oracle (the raw int64 is
      micros-since-epoch either way).
    - UTC session timezone: reference timestamp parity
      (HBaseWriter.kt:598-600) and naive-UTC DuckDB oracle alignment.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
