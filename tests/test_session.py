"""Session defaults: the shuffle width follows the host, and compiled query
code is reused across queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark.session import codegen_compiles, get_spark

_KEY = "spark.sql.shuffle.partitions"


def test_shuffle_width_is_default_parallelism_unless_given(spark):
    s = get_spark()
    assert s.conf.get(_KEY) == str(s.sparkContext.defaultParallelism)
    try:
        assert get_spark(extra_conf={_KEY: "7"}).conf.get(_KEY) == "7"
    finally:
        get_spark()
    assert s.conf.get(_KEY) == str(s.sparkContext.defaultParallelism)


def test_generated_code_is_reused_across_queries(spark):
    """A query that recurs after more than 100 other generated classes (the
    default cache size) runs without compiling anything: the cache holds it
    and its class names carry no stage id, so the rebuilt plan's source text
    hits the cached class."""
    s = get_spark()
    assert s.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert s.conf.get("spark.sql.codegen.useIdInClassName") == "false"

    def query():
        facts = s.range(2000).withColumn("k", F.col("id") % 7)
        dims = s.range(7).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
        return (
            facts.join(dims, "k")
            .groupBy("k")
            .agg(F.sum("w").alias("sw"), F.count("*").alias("n"))
            .orderBy("k")
            .collect()
        )

    first = query()
    # Distinct inline literals give each of these its own generated source.
    for i in range(150):
        s.range(4).selectExpr(f"id * {i + 2} + {3 * i + 1} AS v").collect()
    before = codegen_compiles(s)
    assert query() == first
    assert codegen_compiles(s) == before
