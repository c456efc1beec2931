"""SparkSession builder tuned for scale.

Single place that encodes the 100 TB design defaults (SURVEY.md §4):
AQE on (partition coalescing + skew-join split), Arrow for every
Python↔JVM exchange, shuffle partitions sized to the session's
``defaultParallelism`` (the cores of a local master, the executor cores
of a cluster) with AQE coalescing down from there, broadcast threshold
generous enough that every TPC-H-ish dimension table broadcasts.

Compiled query code is kept across queries.  Spark caches each generated
class by its source text; the cache is sized past the classes a whole
query mix compiles, and class names leave out the codegen stage id, so a
plan fragment that recurs in a later query (under a new stage id) has the
same source and reuses its compiled class instead of paying the Janino
compile (~15 ms a class) again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sqlite_to_clickhouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Adaptive execution: runtime partition coalescing, skew-join split,
        # broadcast demotion — the levers that keep plans healthy at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas-UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/customer/supplier/part) stay far
        # below this at any SF that fits a single node; on a cluster the
        # 100 TB fact side never broadcasts, which is what we want.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Session timezone pinned so timestamp semantics match the DuckDB
        # oracle (naive timestamps) regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static conf: the default 100 classes evict most of a query mix's
        # compiled code before it recurs; ~29 KB of metaspace per class.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Same fragment, same source text, one cached class across queries.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    extra_conf = extra_conf or {}
    for key, val in extra_conf.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    # Shuffle width follows the host: one reduce partition per core, which
    # AQE coalesces further for small stages.  A fixed width either idles
    # cores on a big host or multiplies tiny tasks on a small one.
    if "spark.sql.shuffle.partitions" not in extra_conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled so far (Spark's CodegenMetrics);
    a cache hit on generated code compiles nothing, so deltas count misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
